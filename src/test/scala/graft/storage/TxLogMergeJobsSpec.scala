package graft.storage

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.storage.TxLog.MergeClause

/** Spark jobs per row-level DML verb on a table shaped like the
  * study-ingest workload: a (kgp_id, study_id) key, chr-partitioned,
  * several files per partition. Each count is pinned at or below the
  * count measured before the keyed-merge verbs shared one engine
  * (`PARENT`), so a change that adds a job to a verb fails here
  * instead of only showing in the benchmark's storage spans. */
class TxLogMergeJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs per verb before the merge verbs shared one engine (this
    * spec run on that tree, local session, Spark 4.1). */
  private val PARENT = Map(
    "mergeInto" -> 9, "mergeWhen" -> 11, "applyChanges" -> 9, "deleteWhere(dv)" -> 4)

  private val keys = Seq("kgp_id", "study_id")

  /** Rows over 3 chromosomes x 2 studies, `n` markers per pair. */
  private def rows(n: Int, from: Int, stat: Double): DataFrame =
    (for (chr <- 1 to 3; study <- 1 to 2; i <- from until from + n)
      yield (s"$chr:$i", study, chr, i * 10, stat))
      .toDF("kgp_id", "study_id", "chr", "pos", "stat")

  /** A fresh table: a base load plus two appended loads, so every
    * partition holds several files. */
  private def table(tag: String): String = {
    val path = java.nio.file.Files.createTempDirectory(s"graft_jobs_$tag")
      .toString + "/tbl"
    TxLog.create(rows(40, 0, 1.0), path, partitionCol = Some("chr"))
    TxLog.append(rows(40, 40, 1.0), path)
    TxLog.append(rows(40, 80, 1.0), path)
    path
  }

  /** Revised load: 20 existing markers per pair updated, 10 new. */
  private def revision: DataFrame = rows(30, 100, 2.0)

  /** Jobs started on the session while `f` runs. Fence jobs before and
    * after bound the window: listener events arrive in order, so once
    * the closing fence is seen every job of `f` has been counted. */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def fence(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(name) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(name), s"listener never saw fence $name")
    }
    sc.addSparkListener(listener)
    try {
      fence("jobs-open")
      f
      fence("jobs-close")
      val all = seen.toArray(Array.empty[String]).toSeq
      all.indexOf("jobs-close") - all.indexOf("jobs-open") - 1
    } finally sc.removeSparkListener(listener)
  }

  private def pinned(verb: String, n: Int): Unit = {
    info(s"$verb: $n jobs (before the shared engine: ${PARENT(verb)})")
    assert(n <= PARENT(verb), s"$verb now runs $n jobs, was ${PARENT(verb)}")
  }

  test("keyed merges and DV deletes run no more Spark jobs than before the shared engine") {
    val p1 = table("merge")
    pinned("mergeInto", jobsOf(TxLog.mergeInto(p1, revision, keys)))
    assert(TxLog.read(spark, p1).count() == 6 * 130)

    val p2 = table("when")
    val all = Seq("pos", "stat").map(c => c -> s"src.$c")
    pinned("mergeWhen", jobsOf(TxLog.mergeWhen(p2, revision, keys,
      matched = Seq(MergeClause(None, "update", all)),
      notMatched = Seq(MergeClause(None, "insert")))))
    assert(TxLog.read(spark, p2).count() == 6 * 130)

    val p3 = table("apply")
    val feed = revision.withColumn("_change_type",
      org.apache.spark.sql.functions.when(col("pos") % 30 === 0, "delete")
        .otherwise("update"))
    pinned("applyChanges", jobsOf(TxLog.applyChanges(p3, feed, keys)))

    val p4 = table("delete")
    pinned("deleteWhere(dv)", jobsOf(TxLog.deleteWhere(spark, p4,
      col("study_id") === 2 && col("chr") === 3, deletionVectors = true)))
    assert(TxLog.read(spark, p4).count() == 5 * 120)
  }

  /** Jobs of the DV-bearing and many-file reads before `TxLog.read`
    * mounted the format door's manifest index (this spec run on that
    * tree, local session, Spark 4.1). */
  private val PARENT_READ = Map(
    "read construction (>32 files)" -> 1,
    "read count (dv)" -> 4, "mergeInto (dv)" -> 15)

  private def pinnedRead(what: String, n: Int, bound: Int): Unit = {
    info(s"$what: $n jobs (before the shared scan path: ${PARENT_READ(what)})")
    assert(n <= bound, s"$what now runs $n jobs, bound $bound")
  }

  test("snapshot reads start no listing or schema-inference job; DV-bearing verbs no more jobs than before") {
    // one file per range partition: more than the 32 paths above which
    // a path listing runs as a Spark job
    val wide = java.nio.file.Files.createTempDirectory("graft_jobs_wide")
      .toString + "/tbl"
    TxLog.create(spark.range(0, 400, 1, 40).select(col("id").as("k")), wide)
    val files = TxLog.manifest(spark, wide,
      TxLog.currentVersion(spark, wide).get).files.size
    assert(files > 32, s"expected more than 32 files, got $files")
    var df: DataFrame = null
    pinnedRead("read construction (>32 files)", jobsOf {
      df = TxLog.read(spark, wide) }, bound = 0)
    assert(df.count() == 400)

    val p1 = table("dvread")
    TxLog.deleteWhere(spark, p1, col("study_id") === 2 && col("chr") === 3,
      deletionVectors = true)
    var n = -1L
    pinnedRead("read count (dv)", jobsOf { n = TxLog.read(spark, p1).count() },
      bound = PARENT_READ("read count (dv)"))
    assert(n == 5 * 120)

    val p2 = table("dvmerge")
    TxLog.deleteWhere(spark, p2, col("study_id") === 2 && col("chr") === 3,
      deletionVectors = true)
    pinnedRead("mergeInto (dv)", jobsOf(TxLog.mergeInto(p2, revision, keys)),
      bound = PARENT_READ("mergeInto (dv)"))
    // the revision re-inserts study 2 on chr 3 (30 keys) and updates or
    // adds 30 keys in each other pair
    assert(TxLog.read(spark, p2).count() == 5 * 130 + 30)
  }
}
