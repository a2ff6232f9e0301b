package graft

import org.apache.spark.sql.functions._

/** Dev tool (VERDICT r8 #1/#2): run named registry queries at a given sf
  * dir and verify their BOOLEAN invariant-contract columns affirmatively
  * — the value check for scales where no oracle can follow (the DuckDB
  * CTE twins DNF past sf0.1, and at sf10 nothing else independent
  * exists). Prints one JSON line per query: row count + per-contract
  * verdict (1 = every row TRUE). Usage:
  * `runMain graft.InvProbe <sfDir> q131_... q137_... [...]` */
object InvProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "24").toInt
    val spark = Session.local(cpus, cpus * 8, "graft-inv")
    val rows = names.map { n =>
      val t0 = System.nanoTime()
      val df = QueryRegistry.withExecConfs(spark, n, sfDir) {
        QueryRegistry.byName(n).fn(spark, sfDir)
      }
      val boolCols = df.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.BooleanType)
        .map(_.name).toSeq
      require(boolCols.nonEmpty, s"$n has no boolean contract columns")
      val agg = df.agg(count(lit(1)).as("n"),
        boolCols.map(c => min(when(col(c), 1L).otherwise(0L)).as(c)): _*)
      val r = QueryRegistry.withExecConfs(spark, n, sfDir) { agg.head() }
      val secs = (System.nanoTime() - t0) / 1e9
      val verdicts = boolCols
        .map(c => s""""$c":${r.getAs[Long](c)}""").mkString(",")
      val line = s"""{"query":"$n","rows":${r.getAs[Long]("n")},""" +
        s""""secs":${"%.3f".formatLocal(java.util.Locale.ROOT, secs)},$verdicts}"""
      println(s"INV $line")
      line
    }
    println(s"""INVJSON {"sf_dir":"$sfDir","checks":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
