package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.PqFunctions.{pq_adc, pq_encode}

/** Product quantization (PQ) for embedding similarity at 100 TB scale.
  *
  * The embedding column is split into `m` subspaces; each subspace gets
  * its own `ksub`-entry codebook (KMeans over a bounded sample), and a
  * vector compresses to `m` small codes — 8 bytes/vector at the
  * default m=8 against 256 bytes for a 64-dim float32 embedding, a 32×
  * cut in what an ANN scan has to read and hold. Query-time scoring is
  * ADC (asymmetric distance computation): the query precomputes an
  * m×ksub lookup table of subspace distances ONCE (driver-side math,
  * microseconds), and every coded vector scores with m array lookups —
  * no per-row floating-point vector math at all. The ADC shortlist
  * then re-ranks EXACTLY (true cosine over the original embeddings of
  * shortlist ids only), so recall is governed by the shortlist size
  * and `shortlist = N` provably recovers brute force.
  *
  * Vectors are L2-normalized inside [[graft.functions.PqEncode]], so
  * squared-L2 ADC ordering equals cosine ordering (‖a−b‖² = 2−2cos on
  * unit vectors) — the shortlist and the exact re-rank agree on the
  * metric.
  *
  * Scale shape: `fit` sees at most `fitSampleRows` vectors (collected
  * to the driver — bounded like Ivf's centroids, NOT corpus-sized);
  * `encode` is one codegen'd linear scan; the query scan reads only
  * (vec_id, m codes) — with IVF-style partitioning on top this is the
  * standard IVF-PQ layout, and the two operators compose (partition
  * the CODES by Ivf cell). Codebooks are m·ksub·dsub doubles (a few
  * KB) riding in the expression itself.
  */
object Pq {

  /** codebooks(j)(c) = the dsub-dim centroid for code c of subspace j;
    * all entries are over L2-normalized vectors. */
  case class PqModel(m: Int, ksub: Int, dsub: Int,
                     codebooks: Array[Array[Array[Double]]])

  /** Train per-subspace codebooks with seeded Lloyd's iterations over a
    * driver-collected sample (≤ `fitSampleRows` vectors — the same
    * bounded-collect contract as Ivf.fit's KMeans sample; at the
    * default 100k×64 dims that is ~50 MB, constant in corpus size).
    * Deterministic: fixed seed drives both the sample and the init. */
  def fit(emb: DataFrame, m: Int = 8, ksub: Int = 16,
          fitSampleRows: Long = 100000L, seed: Long = 42L): PqModel = {
    val n = emb.count()
    val sampled =
      if (n > fitSampleRows)
        emb.sample(withReplacement = false, fitSampleRows.toDouble / n, seed)
      else emb
    val rows = sampled.select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(rows.nonEmpty, "PQ fit: empty sample")
    val dim = rows.head.length
    require(dim % m == 0, s"PQ fit: dim $dim not divisible by m=$m")
    val dsub = dim / m
    // normalize once; all codebook math is over unit vectors
    val unit = rows.map { v =>
      val ss = v.map(x => x * x).sum
      if (ss == 0.0) v else { val inv = 1.0 / math.sqrt(ss); v.map(_ * inv) }
    }
    val rnd = new scala.util.Random(seed)
    val codebooks = Array.tabulate(m) { j =>
      val sub = unit.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(sub, ksub, rnd)
    }
    PqModel(m, ksub, dsub, codebooks)
  }

  /** Train per-subspace codebooks over RESIDUALS `v̂ − centroid(cell)`
    * of a fitted Ivf index — the standard IVF-PQ formulation (Jégou et
    * al.). The residual concentrates near the origin with far less
    * variance than the raw vector, so the same m·log2(ksub) bits
    * quantize much finer; within a cell the offset cancels exactly in
    * ADC (‖(q̂−c)−(v̂−c)‖² = ‖q̂−v̂‖²), so this strictly reduces
    * quantization error vs raw-vector codes. Samples from the index's
    * own cell-partitioned vectors (same bounded-collect contract as
    * [[fit]]); a residual model is only valid against the index whose
    * centroids defined it — [[loadOrBuildIvfPq]] enforces the
    * coupling. */
  def fitResidual(spark: org.apache.spark.sql.SparkSession, ivf: Ivf.IvfIndex,
                  m: Int = 8, ksub: Int = 64,
                  fitSampleRows: Long = 100000L, seed: Long = 42L): PqModel = {
    val vecs = spark.read.parquet(s"${ivf.path}/vectors")
      .select(col("embedding").cast("array<double>"), col("cell"))
    val n = vecs.count()
    val sampled =
      if (n > fitSampleRows)
        vecs.sample(withReplacement = false, fitSampleRows.toDouble / n, seed)
      else vecs
    val rows = sampled.collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getInt(1)))
    require(rows.nonEmpty, "PQ fitResidual: empty sample")
    val dim = rows.head._1.length
    require(dim % m == 0, s"PQ fitResidual: dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cm = Ivf.centroidMatrix(ivf)
    val residuals = rows.map { case (v, cell) =>
      val ss = v.map(x => x * x).sum
      val inv = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
      val cent = cm(cell)
      Array.tabulate(dim)(i => v(i) * inv - cent(i))
    }
    val rnd = new scala.util.Random(seed)
    val codebooks = Array.tabulate(m) { j =>
      val sub = residuals.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      lloyd(sub, ksub, rnd)
    }
    PqModel(m, ksub, dsub, codebooks)
  }

  /** Plain Lloyd's: seeded-shuffle init, 10 assignment/update rounds,
    * empty clusters re-seeded from the shuffled order. Runs on the
    * bounded driver sample only — never on the corpus. */
  private def lloyd(pts: Array[Array[Double]], k: Int,
                    rnd: scala.util.Random): Array[Array[Double]] = {
    val d = pts.head.length
    val order = rnd.shuffle(pts.indices.toVector)
    val centers = Array.tabulate(k)(i => pts(order(i % pts.length)).clone())
    val assign = new Array[Int](pts.length)
    for (_ <- 0 until 10) {
      var i = 0
      while (i < pts.length) {
        var best = 0; var bd = Double.PositiveInfinity
        var c = 0
        while (c < k) {
          var dist = 0.0; var t = 0
          while (t < d) { val x = pts(i)(t) - centers(c)(t); dist += x * x; t += 1 }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        assign(i) = best; i += 1
      }
      val sums = Array.fill(k, d)(0.0)
      val counts = new Array[Int](k)
      i = 0
      while (i < pts.length) {
        val a = assign(i); counts(a) += 1
        var t = 0
        while (t < d) { sums(a)(t) += pts(i)(t); t += 1 }
        i += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var t = 0
          while (t < d) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        } else {
          centers(c) = pts(order(rnd.nextInt(pts.length) % order.length)).clone()
        }
        c += 1
      }
    }
    centers
  }

  /** (id, codes) for the corpus — ONE codegen'd scan, m·ksub·dsub
    * distance terms per row inside whole-stage codegen, output m ints
    * per vector. This is the compressed representation the ADC scan
    * reads instead of the embeddings. */
  def encode(emb: DataFrame, model: PqModel,
             vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    emb.select(col(idCol), pq_encode(col(vecCol), model.codebooks).as("codes"))

  /** The per-query ADC lookup table: lut(j)(c) = ‖q_j − codebook(j)(c)‖²
    * over the normalized query. m·ksub entries of driver math. */
  def lut(model: PqModel, queryVec: Array[Double]): Array[Array[Double]] = {
    val ss = queryVec.map(x => x * x).sum
    val q = if (ss == 0.0) queryVec
            else { val inv = 1.0 / math.sqrt(ss); queryVec.map(_ * inv) }
    Array.tabulate(model.m) { j =>
      Array.tabulate(model.ksub) { c =>
        var dist = 0.0
        var t = 0
        while (t < model.dsub) {
          val x = q(j * model.dsub + t) - model.codebooks(j)(c)(t)
          dist += x * x; t += 1
        }
        dist
      }
    }
  }

  /** ADC score column over a `codes` column for one query. */
  def adcScore(codes: Column, model: PqModel, queryVec: Array[Double]): Column =
    pq_adc(codes, lut(model, queryVec))

  /** Per-CELL ADC table for residual codes: lut(j)(c) =
    * ‖(q̂ − centroid)_j − codebook(j)(c)‖². The query's residual
    * against one probed cell's centroid — m·ksub driver doubles per
    * probed cell, nprobe tables per query. */
  def lutResidual(model: PqModel, queryVec: Array[Double],
                  centroid: Array[Double]): Array[Array[Double]] = {
    val ss = queryVec.map(x => x * x).sum
    val inv = if (ss == 0.0) 0.0 else 1.0 / math.sqrt(ss)
    Array.tabulate(model.m) { j =>
      Array.tabulate(model.ksub) { c =>
        var dist = 0.0
        var t = 0
        while (t < model.dsub) {
          val idx = j * model.dsub + t
          val x = queryVec(idx) * inv - centroid(idx) - model.codebooks(j)(c)(t)
          dist += x * x; t += 1
        }
        dist
      }
    }
  }

  /** ANN query: ADC over the coded corpus → `shortlist` smallest
    * distances (TakeOrderedAndProject — per-partition heaps) → exact
    * cosine re-rank of ONLY the shortlist ids against the original
    * embeddings → top-k. The shortlist rides as a broadcast hash join
    * on a shortlist-sized DataFrame (never a shortlist-sized IN-list
    * literal — at shortlist=10^5 that would be a 10^5-element predicate
    * the optimizer must fold, where the broadcast join stays O(1) in
    * plan size and never touches the driver). Corrupt rows ADC-score
    * null and sort LAST, so they can't consume shortlist slots.
    * `shortlist >= N` makes the result exactly brute force.
    * Pre-encoded codes can be passed to amortize the encode scan
    * across queries (the fit-once/encode-once/query-many lifecycle,
    * like Ivf). */
  def query(emb: DataFrame, model: PqModel, queryId: Long = 0L, k: Int = 10,
            shortlist: Int = 100, codes: Option[DataFrame] = None): DataFrame = {
    val qv = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val coded = codes.getOrElse(encode(emb, model))
    val short = coded.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), adcScore(col("codes"), model, qv).as("adc"))
      .orderBy(asc_nulls_last("adc"), col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    val q = emb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    emb.join(broadcast(short), "vec_id")
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), col("q_emb")), 6).as("cosine"))
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** Persist the codebooks next to the data they encode (one row per
    * (subspace, code) — m·ksub rows of dsub doubles, a few KB). A
    * saved model makes the offline-artifact contract explicit: encode
    * once with a saved model, and any later session queries the same
    * codes without relying on refit determinism. */
  def save(spark: org.apache.spark.sql.SparkSession, model: PqModel,
           path: String, encoding: String = "raw"): Unit = {
    import spark.implicits._
    val rows = for (j <- 0 until model.m; c <- 0 until model.ksub)
      yield (j, c, model.codebooks(j)(c).toSeq, encoding)
    rows.toDF("subspace", "code", "centroid", "encoding")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pq_codebooks")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): PqModel =
    fromRows(spark.read.parquet(s"$path/pq_codebooks")
      .select("subspace", "code", "centroid").collect())

  /** The model held by collected `pq_codebooks` rows — (subspace,
    * code, centroid) in their first three columns. */
  private def fromRows(rows: Array[org.apache.spark.sql.Row]): PqModel = {
    val m = rows.map(_.getInt(0)).max + 1
    val ksub = rows.map(_.getInt(1)).max + 1
    val cb = Array.ofDim[Array[Double]](m, ksub)
    rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
    PqModel(m, ksub, cb(0)(0).length, cb)
  }

  /** The encoding space a persisted model's codes live in: "residual"
    * (v − centroid, written by [[loadOrBuildIvfPq]]) or "raw" (the
    * plain-PQ space, and the default stamped by pre-marker artifacts —
    * an artifact directory without the marker column predates residual
    * encoding and MUST be treated as raw). ADC distances computed in
    * the wrong space are silent garbage, so loaders gate on this. */
  def savedEncoding(spark: org.apache.spark.sql.SparkSession, path: String): String = {
    val df = spark.read.parquet(s"$path/pq_codebooks")
    if (df.columns.contains("encoding")) df.select("encoding").head().getString(0)
    else "raw"
  }

  /** Resolve the OFFLINE IVF-PQ artifacts at `path`, building whatever
    * is missing: the Ivf index, the PQ model (persisted via
    * [[save]]/[[load]]), and the cell-partitioned codes. The model is
    * LOADED whenever its artifact exists — never refit against
    * persisted codes, because refit "determinism" breaks as soon as
    * sampling kicks in (`df.sample` is per-partition Bernoulli: a
    * different incoming partitioning yields a different sample,
    * different codebooks, and ADC distances silently mismatched to the
    * codes on disk). When the model had to be (re)fit, the codes are
    * re-encoded even if a stale codes directory exists — codes are
    * only valid against the model that wrote them. */
  def loadOrBuildIvfPq(spark: org.apache.spark.sql.SparkSession, emb: DataFrame,
                       path: String, m: Int = 8, ksub: Int = 64):
      (Ivf.IvfIndex, PqModel) = {
    val haveIndex = new java.io.File(s"$path/centroids").exists()
    val index = if (haveIndex) Ivf.load(spark, path) else Ivf.fit(emb, path)
    // a surviving model is valid only if (a) the index it residuals
    // against also survived AND (b) its marker says residual — an
    // artifact from the raw-encoding era (or a plain-PQ save) would
    // ADC-score residual LUTs against raw-space codes: silent garbage,
    // not an error. Anything else refits and re-encodes. One read of
    // pq_codebooks answers both the marker check and the load (r19:
    // savedEncoding + load each paid a separate parquet scan+collect
    // on the warm path).
    val loadedResidual: Option[PqModel] =
      if (!haveIndex || !new java.io.File(s"$path/pq_codebooks").exists()) None
      else {
        val df = spark.read.parquet(s"$path/pq_codebooks")
        if (!df.columns.contains("encoding")) None // pre-marker era: raw
        else {
          val rows = df.select("subspace", "code", "centroid", "encoding")
            .collect()
          if (rows.isEmpty || rows.head.getString(3) != "residual") None
          else Some(fromRows(rows))
        }
      }
    val haveModel = loadedResidual.isDefined
    val model =
      if (haveModel) loadedResidual.get
      else {
        val mm = fitResidual(spark, index, m, ksub)
        save(spark, mm, path, encoding = "residual"); mm
      }
    // re-encode when EITHER artifact was just (re)built: codes are only
    // valid against the model that wrote them AND the index whose cell
    // ids they are partitioned by — a rebuilt index (partial earlier
    // build) with surviving codes would partition-prune stale cells
    if (!haveIndex || !haveModel || !new java.io.File(s"$path/codes").exists())
      encodeIvf(spark, index, model)
    (index, model)
  }

  /** Offline half of IVF-PQ: RESIDUAL-encode an Ivf index's vectors
    * (codes quantize `v̂ − centroid(cell)`, the [[fitResidual]]
    * contract) keeping the cell partition column, written as
    * `path/codes` partitioned by cell — the standard
    * inverted-file-of-codes layout. One scan of the already-
    * partitioned vectors; no extra shuffle (the partitioning is
    * inherited from the read). */
  def encodeIvf(spark: org.apache.spark.sql.SparkSession, ivf: Ivf.IvfIndex,
                model: PqModel): Unit =
    // a spilled index works here unchanged: each stored COPY residuals
    // against ITS OWN cell's centroid (the per-cell LUT contract), and
    // the query side collapses duplicate ids to their best ADC score
    spark.read.parquet(s"${ivf.path}/vectors")
      .select(col("vec_id"),
        graft.functions.PqFunctions.pq_encode_residual(col("embedding"),
          col("cell"), Ivf.centroidMatrix(ivf), model.codebooks).as("codes"),
        col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"${ivf.path}/codes")

  /** Incremental codes maintenance (pairs with [[Ivf.append]]): encode
    * a new batch with the EXISTING model and append to the cell
    * partitions of the codes layout — no refit, no re-encode of old
    * cells, old files byte-identical. One codegen'd scan doing the
    * cell assignment and the residual encode against that cell. */
  def encodeAppend(spark: org.apache.spark.sql.SparkSession, ivf: Ivf.IvfIndex,
                   model: PqModel, newEmb: DataFrame): Unit = {
    val cm = Ivf.centroidMatrix(ivf)
    newEmb
      .select(col("vec_id"), col("embedding"),
        graft.functions.IvfFunctions.ivf_assign(col("embedding"), cm).as("cell"))
      .select(col("vec_id"),
        graft.functions.PqFunctions.pq_encode_residual(col("embedding"),
          col("cell"), cm, model.codebooks).as("codes"),
        col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"${ivf.path}/codes")
  }

  /** IVF-PQ query — the 100 TB ANN shape: driver-side centroid argmin
    * picks nprobe cells, the CODES scan partition-prunes to those cells
    * and reads m bytes/vector (nprobe/nlist of the corpus × 32× smaller
    * rows), ADC shortlists with m lookups/row, and the exact re-rank
    * reads real embeddings for shortlist ids only — also partition-
    * pruned to the probed cells. Recall factors cleanly: the IVF term
    * (did the true neighbor's cell get probed) × the PQ term (did ADC
    * rank it into the shortlist); AnnRecallSpec measures the product
    * against brute force.
    *
    * Knob economics, measured on the test corpus (AnnRecallSpec;
    * deterministic data + codebooks): residual codes make the PQ term
    * near-lossless (0.95 at shortlist=100 with every cell probed), so
    * serving recall ≈ the IVF term — 0.645 at nprobe=4/nlist=16, 0.825
    * at nprobe=8. The default is nprobe=8, the smallest probe count
    * clearing a 0.8 recall floor there; cost is linear in nprobe (one
    * more m-byte cell partition scanned per probe — still
    * nprobe/nlist of the corpus at 32× smaller rows). At production
    * nlist (thousands of cells), the same nprobe is a far smaller
    * corpus fraction. */
  def ivfQuery(spark: org.apache.spark.sql.SparkSession, ivf: Ivf.IvfIndex,
               model: PqModel, queryVec: Array[Double], k: Int = 10,
               nprobe: Int = 8, shortlist: Int = 100,
               excludeId: Option[Long] = None,
               codesRel: Option[DataFrame] = None,
               vectorsRel: Option[DataFrame] = None): DataFrame = {
    val probeCells = Ivf.nearestCells(ivf, queryVec, nprobe).toIndexedSeq
    val centroidOf = ivf.centroids.toMap
    // residual codes take a PER-CELL ADC table (the query's residual
    // against each probed centroid): one partition-pruned branch per
    // probed cell, unioned — nprobe branches, each scanning exactly
    // its own cell partition of m-byte rows. Same broadcast-semi-join
    // shortlist shape as [[query]]: nulls (corrupt codes) sort last,
    // the re-rank joins a shortlist-sized frame instead of folding a
    // shortlist-sized isin literal. codesRel/vectorsRel let a batch
    // caller pay the relation's file listing + schema inference once
    // across |Q| queries (guide §5).
    val allCodes = codesRel.getOrElse(
      spark.read.parquet(s"${ivf.path}/codes"))
    val scored = probeCells.map { pc =>
      val codes0 = allCodes.filter(col("cell") === pc)
      val codes = excludeId.fold(codes0)(id => codes0.filter(col("vec_id") =!= id))
      codes.select(col("vec_id"),
        graft.functions.PqFunctions.pq_adc(col("codes"),
          lutResidual(model, queryVec, centroidOf(pc))).as("adc"))
    }.reduce(_ unionAll _)
    // a spilled index can score the same id from several probed homes
    // (each copy against its own cell's LUT): keep the BEST (smallest)
    // distance per id so duplicates can't eat shortlist slots. min()
    // drops null (corrupt) scores unless every copy is corrupt, which
    // then still sorts last. spill=1 keeps the plain shortlist plan.
    val collapsed =
      if (ivf.spill > 1) scored.groupBy("vec_id").agg(min("adc").as("adc"))
      else scored
    val short = collapsed
      .orderBy(asc_nulls_last("adc"), col("vec_id"))
      .limit(shortlist)
      .select("vec_id")
    val qCol = array(queryVec.map(lit).toIndexedSeq: _*)
    val reranked = vectorsRel
      .getOrElse(spark.read.parquet(s"${ivf.path}/vectors"))
      .filter(col("cell").isin(probeCells: _*))
      .join(broadcast(short), "vec_id")
      .select(col("vec_id"),
        round(Similarity.cosine(col("embedding"), qCol), 6).as("cosine"))
    // the vectors layout also duplicates ids under spill — copies score
    // the same exact cosine, so any-survivor dedup is exact
    (if (ivf.spill > 1) reranked.dropDuplicates("vec_id") else reranked)
      .orderBy(desc("cosine"), col("vec_id"))
      .limit(k)
  }

  /** IVF-PQ recall-eval batch, |Q|-bounded like Ivf.queryBatch — same
    * nprobe=8 serving default as [[ivfQuery]]. */
  def ivfQueryBatch(spark: org.apache.spark.sql.SparkSession, ivf: Ivf.IvfIndex,
                    model: PqModel, emb: DataFrame, queryIds: Seq[Long],
                    k: Int = 10, nprobe: Int = 8, shortlist: Int = 100): DataFrame = {
    val qvecs = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // codes and vectors relations built once for the whole batch: each
    // spark.read.parquet pays a driver file listing + schema inference,
    // and the batch used to pay it 2·|Q| times
    val codes = spark.read.parquet(s"${ivf.path}/codes")
    val vectors = spark.read.parquet(s"${ivf.path}/vectors")
    queryIds.map { qid =>
      ivfQuery(spark, ivf, model, qvecs(qid), k, nprobe, shortlist,
        excludeId = Some(qid), codesRel = Some(codes),
        vectorsRel = Some(vectors))
        .select(lit(qid).as("qid"), col("vec_id"), col("cosine"))
    }.reduce(_ unionAll _)
  }

  /** Recall-eval batch (pair with Similarity.cosineTopKBatch +
    * recallAtK): one encode pass shared across the batch, then the
    * per-query ADC shortlist + exact re-rank. Bounded by |Q| like
    * Ivf.queryBatch — an eval harness, not a serving path. */
  def queryBatch(emb: DataFrame, model: PqModel, queryIds: Seq[Long],
                 k: Int = 10, shortlist: Int = 100): DataFrame = {
    val coded = encode(emb, model).cache()
    try {
      queryIds.map { qid =>
        query(emb, model, qid, k, shortlist, codes = Some(coded))
          .select(lit(qid).as("qid"), col("vec_id"), col("cosine"))
      }.reduce(_ unionAll _)
    } finally coded.unpersist(blocking = false)
  }
}
