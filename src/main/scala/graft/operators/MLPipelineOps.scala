package graft.operators

import graft.{GraftQuery, Tables}
import graft.Tables._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib-backed pipeline operators (SURVEY.md §7.2 M6) and multimodal
  * column plumbing.
  *
  * These are the genuinely non-SQL operators: deterministic local embedding
  * generation (Tokenizer→HashingTF→IDF — the stand-in for the reference's
  * OpenAI embedding calls, /root/reference/backend/ai_service.py:23-42,
  * per BASELINE.json "MLlib for embedding generation, not ANN serving"),
  * and LSH approximate nearest neighbors (the `$vectorSearch`
  * numCandidates analog, ai_service.py:59-96). No DuckDB twin exists for
  * MLlib hashing, so these register rows-only checks; the binary/metadata
  * halves that ARE portable get oracles.
  */
object MLPipelineOps {

  /** Deterministic hashed TF-IDF embedding generation — the feature-
    * hashing pipeline (tokens → 64 hash buckets → tf × idf weights) with
    * every stage engine-portable so the whole embedding is HASH-CHECKED:
    * md5 replaces murmur3 for the bucket hash (the only cross-engine
    * hash), and the idf is integer-quantized — idf(df) = 1 +
    * floor(log2((N+1)/(df+1))), computed exactly via length(bin(x))-1
    * (libm log/ln is NOT bit-portable across engines; binary-string
    * length is). Output: per-doc non-zero bucket count + exact integer
    * weighted norm². The MLlib Tokenizer→HashingTF→IDF form of the same
    * pipeline is pinned by invariant tests (QueriesSpec "MLlib TF-IDF"). */
  private val q60 = GraftQuery(
    "q60_embed_tfidf_hashed",
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      val docs = t(s, d, "documents")
      val nDf = docs.agg(count(lit(1)).as("n"))
      val b = docs
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
        .select(col("doc_id"),
          (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long") % 64).as("bucket"))
      val tf = b.groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("tf"))
      // document frequency DERIVES from tf (one row per distinct
      // (doc, bucket)), so the corpus is exploded + hashed ONCE — the
      // second scan was ~half this query's cost
      val dfreq = tf.groupBy(col("bucket")).agg(count(lit(1)).as("df"))
      tf.join(broadcast(dfreq), Seq("bucket"))
        .crossJoin(broadcast(nDf))
        .withColumn("wt",
          col("tf") * (length(bin(expr("(n + 1) div (df + 1)"))).cast("long")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nnz"), sum(col("wt") * col("wt")).as("norm_sq"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents),
      b AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT % 64 AS bucket
            FROM toks),
      tf AS (SELECT doc_id, bucket, count(*) AS tf FROM b GROUP BY doc_id, bucket),
      dfreq AS (SELECT bucket, count(DISTINCT doc_id) AS df FROM b GROUP BY bucket),
      n AS (SELECT count(*) AS n FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS nnz,
             CAST(sum(wt * wt) AS BIGINT) AS norm_sq
      FROM (SELECT doc_id, tf * CAST(length(bin((n + 1) // (df + 1))) AS BIGINT) AS wt
            FROM tf JOIN dfreq USING (bucket), n)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** ANN via BucketedRandomProjectionLSH — the scale path for top-k
    * (numCandidates analog, SURVEY T4/O3): bucket the corpus, probe the
    * query vector's buckets, exact-rescore only the candidates.
    *
    * NOT in the driver registry (r5): MLlib's internal hashing has no SQL
    * twin, so this sat as a `no_oracle` row for three rounds while
    * q80/q26/q105 proved the same ANN capability with full hash checks.
    * It stays a first-class library entry point, now pinned by the
    * q118-style exhaustive-rank contract in QueriesSpec (every returned
    * neighbor within the exhaustive top 5% by exact cosine) on top of the
    * recall floor.
    *
    * The model (bucket length 0.5, 2 hash tables, seed 42) depends only on
    * these settings and the vector width, so it is fitted on a one-row
    * local frame, which runs no Spark job. */
  val q61 = GraftQuery(
    "q61_lsh_ann_topk",
    (s, d) => {
      import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
      import org.apache.spark.ml.functions.array_to_vector
      import org.apache.spark.ml.linalg.{SQLDataTypes, Vector, Vectors}
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{StructField, StructType}
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          array_to_vector(col("embedding")).as("features"))
      val key = emb.filter(col("vec_id") === 0).head().getAs[Vector]("features")
      val one = s.createDataFrame(java.util.List.of(Row(Vectors.zeros(key.size))),
        StructType(Seq(StructField("features", SQLDataTypes.VectorType))))
      new BucketedRandomProjectionLSH()
        .setBucketLength(0.5).setNumHashTables(2).setSeed(42)
        .setInputCol("features").setOutputCol("hashes")
        .fit(one)
        .approxNearestNeighbors(emb, key, 10)
        .select(col("vec_id"), col("label"), round(col("distCol"), 4).as("dist"))
        .orderBy(col("dist"), col("vec_id"))
    },
    None,
    note = "MLlib LSH — approximate, rows-only check")

  /** Multimodal column plumbing: treat text bytes as an opaque binary
    * payload with typed metadata — byte length, md5 fingerprint, chunk
    * count (the schema/partitioning shape for image/audio columns).
    * Pure byte arithmetic → oracle-checked. */
  private val q62 = GraftQuery(
    "q62_multimodal_binary_meta",
    (s, d) => {
      t(s, d, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("fp"),
          floor((octet_length(col("payload")).cast("long") + lit(255)) / lit(256.0)).cast("long")
            .as("n_chunks"),
          col("source").as("modality_hint"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, octet_length(text::BLOB) AS n_bytes, md5(text) AS fp,
      CAST(floor((octet_length(text::BLOB) + 255) / 256.0) AS BIGINT) AS n_chunks,
      source AS modality_hint
      FROM documents ORDER BY doc_id"""))

  /** Multimodal decode STUB (the image/audio libs are not in this
    * container): a clearly-fake deterministic "decoder" derives frame
    * metadata from the payload fingerprint. The Spark-side plumbing —
    * binary column in, struct-typed metadata out, partition-parallel —
    * is real; swap `fakeDecode` for a real codec UDF in production. */
  private val q63 = GraftQuery(
    "q63_multimodal_decode_stub",
    (s, d) => {
      val payload = col("text").cast("binary")
      val h = conv(substring(md5(payload), 1, 8), 16, 10).cast("long")
      // STUB: width/height/frames derived from the content hash — stands in
      // for a real decode (no codec libs in the container).
      t(s, d, "documents")
        .select(
          col("doc_id"),
          struct(
            (h % 1280).cast("int").as("width"),
            (h % 720).cast("int").as("height"),
            (h % 24 + 1).cast("int").as("n_frames"))
            .as("decoded_meta"))
        .select(col("doc_id"), col("decoded_meta.width"),
          col("decoded_meta.height"), col("decoded_meta.n_frames"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1280 AS INT) AS width,
      CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 720 AS INT) AS height,
      CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 24 + 1 AS INT) AS n_frames
      FROM documents ORDER BY doc_id"""))

  /** Partition-parallel batch decode — the Scala analog of a Pandas-UDF
    * `mapInPandas` decode stage: binary payloads stream through
    * mapPartitions in batches, a (stubbed, deterministic) codec emits
    * typed metadata per payload plus its batch index. The plumbing that
    * matters at 100 TB — binary column in, struct out, per-partition
    * batching, no driver involvement — is real; only the codec is fake. */
  private val q64 = GraftQuery(
    "q64_multimodal_batch_decode",
    (s, d) => {
      import s.implicits._
      val batchSize = 64
      val src = t(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
      val decoded = src.mapPartitions { it =>
        // STUB codec: no image/audio libs in this container — a real
        // implementation decodes `batch` with the codec library here.
        // Metadata is md5-derived (like q63) so the mapPartitions path is
        // engine-portable and oracle-checked end to end; batch position is
        // partitioning-dependent and deliberately NOT emitted.
        val md = java.security.MessageDigest.getInstance("MD5")
        it.grouped(batchSize).flatMap { batch =>
          batch.map { case (id, payload) =>
            md.reset()
            val hex = md.digest(payload).take(4)
              .map(b => f"${b & 0xff}%02x").mkString
            val h = java.lang.Long.parseLong(hex, 16)
            (id, payload.length, (h % 1280).toInt, (h % 720).toInt)
          }
        }
      }.toDF("doc_id", "n_bytes", "width", "height")
      decoded.orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, CAST(octet_length(text::BLOB) AS INT) AS n_bytes,
      CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 1280 AS INT) AS width,
      CAST(('0x' || substr(md5(text), 1, 8))::BIGINT % 720 AS INT) AS height
      FROM documents ORDER BY doc_id"""),
    note = "mapPartitions batch-decode plumbing; codec stubbed (no libs)")

  /** Per-(sfDir, k) quantizer cache: the production contract is "train
    * once OFFLINE, reuse for every query" — a per-invocation fit was
    * round 1's slowest bench query (2.2s). The model is fit on a
    * deterministic 1-in-4 sample (pmod on vec_id — pushdown-friendly,
    * stable across retries, and a capped fraction of the corpus at any
    * scale) and memoized for the lifetime of the JVM/session. */
  private val kmeansCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.ml.clustering.KMeansModel]()

  private def quantizer(s: SparkSession, d: String,
                        nCells: Int): org.apache.spark.ml.clustering.KMeansModel =
    kmeansCache.computeIfAbsent(s"$d#$nCells", _ => {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val sample = t(s, d, "embeddings")
        .filter(pmod(col("vec_id"), lit(4)) === 0)
        .select(array_to_vector(col("embedding")).as("features"))
      // random init (seeded) skips k-means||'s extra passes; a coarse
      // quantizer doesn't need converged clusters, just balanced cells
      new KMeans().setK(nCells).setSeed(42)
        .setInitMode("random").setMaxIter(10)
        .setFeaturesCol("features").setPredictionCol("cell").fit(sample)
    })

  /** IVF with a real k-means coarse quantizer (vs q26's label cells):
    * MLlib KMeans (seeded, deterministic) learns the cells offline-style
    * (trained once per session on a sample — see [[quantizer]]), the query
    * probes the nearest nprobe centroids, exact cosine rescoring runs
    * only inside probed cells.
    *
    * NOT in the driver registry (r5) — same rationale as [[q61]]: the
    * MLlib quantizer has no SQL twin; the capability is hash-proved by
    * q26/q80/q105 and this path is pinned by recall + exhaustive-rank
    * contracts in QueriesSpec. */
  val q65 = GraftQuery(
    "q65_ivf_kmeans_topk",
    (s, d) => {
      import org.apache.spark.ml.functions.array_to_vector
      import graft.functions.VectorFunctions.cosine
      import org.apache.spark.sql.expressions.Window
      val nCells = 8; val nprobe = 3; val k = 10
      val emb = t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          array_to_vector(col("embedding")).as("features"))
      val model = quantizer(s, d, nCells)
      val assigned = model.transform(emb)
      val centroids = model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (i, c.toArray.map(_.toFloat))
      }.toSeq
      val centDf = s.createDataFrame(centroids).toDF("cell", "centroid")
      val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val probed = centDf.crossJoin(broadcast(qv))
        .withColumn("cscore", cosine(col("centroid"), col("qvec")))
        .orderBy(col("cscore").desc, col("cell"))
        .limit(nprobe)
        .select(col("cell"))
      val scored = assigned
        .join(broadcast(probed), Seq("cell"))
        .crossJoin(broadcast(qv))
        .withColumn("score", cosine(col("embedding"), col("qvec")))
      val top = scored.orderBy(col("score").desc, col("vec_id")).limit(k)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("vec_id"))).cast("long"))
        .select(col("rank"), col("vec_id"), col("label"), col("cell"))
    },
    None,
    note = "k-means IVF; MLlib quantizer has no SQL twin — recall asserted in tests")

  /** Compositional document embedding — the SURVEY S9 alternative to
    * HashingTF/IDF, and the scale-sane successor of round 1's Word2Vec
    * query (which needed repartition(1) for gradient determinism — a
    * single-task job, unacceptable at 100 TB): each token hashes to a
    * deterministic 8-dim integer vector (md5 slices, the only
    * engine-portable hash), the document embedding is the exact elementwise
    * SUM over tokens plus the token count (mean = sum/count is a display
    * detail; integers keep it hash-checkable). Embarrassingly parallel —
    * one narrow map + one partial-aggregated groupBy, no model fit, no
    * single-partition stage — and fully oracle-checked. MLlib Word2Vec
    * itself stays covered by aggregate-invariant tests at full parallelism
    * (QueriesSpec "word2vec invariants"). */
  private val q70 = GraftQuery(
    "q70_embed_hash_compositional",
    (s, d) => {
      import graft.functions.TextFunctions.tokens
      // token → 8 dims from two md5 calls (32 hex chars = 4 dims of 8 hex
      // each); values centered into [-500, 499].
      // r14 optimization (guide §2.3/§8 — do the expensive per-row work on
      // the smallest equivalent stream): the document embedding is linear
      // in the per-doc token counts — e_i(doc) = Σ_tok cnt(doc,tok)·dim_i(tok)
      // — so the two md5 calls + 8 hex slices run once per DISTINCT token
      // (the vocabulary, broadcast back), not once per occurrence; the
      // occurrence stream only feeds an integer wordcount. Both tokCounts
      // consumers sit on the same partial-aggregated exchange
      // (ReuseExchange dedupes it), so the corpus is exploded once.
      def dim(i: Int): Column = {
        val h = if (i < 4) col("h1") else col("h2")
        conv(substring(h, 1 + 8 * (i % 4), 8), 16, 10).cast("long") % 1000 - 500
      }
      val tokCounts = t(s, d, "documents")
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      val dims = tokCounts.select(col("tok")).distinct()
        .select(col("tok"), md5(col("tok")).as("h1"),
          md5(concat(col("tok"), lit("#2"))).as("h2"))
        .select(col("tok") +: (0 until 8).map(i => dim(i).as(s"d$i")): _*)
      tokCounts.join(broadcast(dims), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tokens"),
          (0 until 8).map(i => sum(col(s"d$i") * col("cnt")).as(s"e$i")): _*)
        .orderBy(col("doc_id"))
    },
    Some {
      val dims = (0 until 8).map { i =>
        val h = if (i < 4) "md5(tok)" else "md5(tok || '#2')"
        s"CAST(sum(('0x' || substr($h, ${1 + 8 * (i % 4)}, 8))::BIGINT % 1000 - 500) AS BIGINT) AS e$i"
      }.mkString(", ")
      s"""WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, $dims
      FROM toks GROUP BY doc_id ORDER BY doc_id"""
    })

  /** q139 — Johnson-Lindenstrauss random projection (Achlioptas 2003,
    * "Database-friendly random projections": a dense ±1 sign matrix
    * preserves pairwise distances in expectation — the cheap
    * dimensionality-reduction stage ahead of clustering / ANN indexing,
    * 64 → 16 dims here). The q105 fixed-point discipline makes it
    * hash-checkable: embeddings quantize to a 1e-6 integer grid, the sign
    * matrix derives from md5(i:j) parity (engine-portable, no RNG state),
    * and each output coordinate is an exact integer dot product.
    *
    * Scale shape: the 64×16 sign matrix collapses to ONE broadcast row of
    * 16 sign vectors; projection is then a narrow per-row map
    * (`transform` over output dims, `zip_with` dot product inside) — ZERO
    * shuffle on the fact table, the only acceptable cost for a transform
    * every embedding passes through. The oracle computes the same algebra
    * via explode + group-by; identical integers either way. */
  val q139 = GraftQuery(
    "q139_jl_random_projection",
    (s, d) => {
      val OutDims = 16
      val ev = t(s, d, "embeddings").select(col("vec_id"), col("label"),
        ClusterOps.micro(col("embedding")).as("ev"))
      // sign(i,j) = 1 - 2·(md5("i:j") mod 2), materialized once as a
      // single row holding one 64-long sign vector per output dim
      val mat = s.range(1, 65).select(col("id").as("i"))
        .crossJoin(s.range(1, OutDims + 1).select(col("id").as("j")))
        .select(col("i"), col("j"),
          (lit(1L) - lit(2L) * (graft.functions.HashFunctions.md5Int(
            concat(col("i").cast("string"), lit(":"),
              col("j").cast("string"))) % 2)).as("sgn"))
      val smatRow = mat.groupBy(col("j"))
        .agg(array_sort(collect_list(struct(col("i"), col("sgn")))).as("is"))
        .select(col("j"),
          transform(col("is"), x => x.getField("sgn")).as("ss"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("j"), col("ss")))).as("js"))
        .select(transform(col("js"), x => x.getField("ss")).as("smat"))
      ev.crossJoin(broadcast(smatRow))
        .select(col("vec_id"), col("label"),
          transform(sequence(lit(1), lit(OutDims)), j =>
            aggregate(
              zip_with(element_at(col("smat"), j), col("ev"), (a, b) => a * b),
              lit(0L), (acc, x) => acc + x)).as("proj"))
        .select(col("vec_id"), col("label"),
          concat_ws(",", transform(col("proj"), x => x.cast("string")))
            .as("proj_csv"),
          aggregate(col("proj"), lit(0L), (a, x) => a + abs(x)).as("l1_norm"))
        .orderBy(col("vec_id"))
    },
    Some("""WITH ev AS (SELECT vec_id, label,
          list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS evec
        FROM embeddings),
        mat AS (SELECT i, j,
            1 - 2 * (('0x' || substr(md5(i || ':' || j), 1, 8))::BIGINT % 2) AS sgn
          FROM range(1, 65) t1(i), range(1, 17) t2(j)),
        p AS (SELECT e.vec_id, e.label, m.j,
            CAST(sum(m.sgn * e.evec[m.i]) AS BIGINT) AS p
          FROM ev e CROSS JOIN mat m GROUP BY 1, 2, 3),
        o AS (SELECT vec_id, label, list(p ORDER BY j) AS proj
          FROM p GROUP BY vec_id, label)
      SELECT vec_id, label,
        array_to_string(proj, ',') AS proj_csv,
        CAST(list_sum(list_transform(proj, x -> abs(x))) AS BIGINT) AS l1_norm
      FROM o ORDER BY vec_id"""),
    note = "Achlioptas ±1 JL transform on the 1e-6 integer grid: sign " +
      "matrix broadcasts as one row, projection is a shuffle-free map")

  /** Driver-registry entries — q61/q65 deliberately excluded (see their
    * scaladoc): the registry carries only oracle-checkable queries; the
    * MLlib rungs remain library surface covered by QueriesSpec. */
  val all: Seq[GraftQuery] = Seq(q60, q62, q63, q64, q70, q139)
}
