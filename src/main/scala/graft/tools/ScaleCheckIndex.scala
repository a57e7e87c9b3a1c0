package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThan, Literal}
import org.apache.spark.sql.types.LongType

import graft.GraftSession
import graft.storage.TxLog

/** Planning-scale harness for [[graft.sources.TxLogFileIndex]]'s
  * distributed mode: how long does `listFiles` take against manifests
  * of 10^4 / 10^5 / 10^6 entries?
  *
  * The manifests are FABRICATED (the scan never runs — `listFiles` is
  * the unit under test), with a checkpoint parquet written exactly the
  * shape the commit path writes (incl. len/mtime, so the distributed
  * planner never stats). The 10^4 tier also creates real (empty) data
  * files and times the DRIVER walk on the same index for a parity
  * check and a direct cost comparison — the driver walk pays one stat
  * RPC per manifest entry at construction, which is precisely the wall
  * the distributed mode removes (at 10^6 entries on an object store
  * that walk is minutes before the first task launches).
  *
  * Filters: `part = 5` (partition prune, 1/32) and a k-range covering
  * ~1000 entries of the key space — selective enough that the
  * survivors collected back to the driver stay tiny while every entry
  * must be voted on.
  */
object ScaleCheckIndex {
  private def t(name: String)(f: => Long): Double = {
    val t0 = System.nanoTime()
    val n = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[scaleidx] $name%-36s $s%8.2f s  planned=$n")
    s
  }

  private def entries(n: Int): Seq[String] =
    (0 until n).map(i => f"part=${i % 32}/f$i%08d.parquet")

  private def manifestOf(n: Int): TxLog.Manifest = {
    val files = entries(n)
    TxLog.Manifest(1L, Seq("part"), "k BIGINT, part BIGINT", files,
      statsCols = Seq("k"),
      fileStats = files.zipWithIndex.map { case (f, i) =>
        f -> Map("k" -> ((i * 100L).toString, (i * 100L + 99L).toString))
      }.toMap,
      fileRows = files.map(_ -> 100L).toMap)
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("scaleidx")
    val root = "/tmp/graft_scaleidx"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

    def writeCkpt(path: String, n: Int): Unit = {
      val rows = entries(n).zipWithIndex.map { case (f, i) =>
        Row(f, 100L, Map("k" -> Seq((i * 100L).toString, (i * 100L + 99L).toString)),
          null, 1000000L, 0L)
      }
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, math.max(1, n / 100000)),
          TxLog.checkpointSchema)
        .write.mode("overwrite").parquet(s"$path/_manifests/v1.ckpt")
    }

    def filtersFor(n: Int) = {
      val part = AttributeReference("part", LongType)()
      val k = AttributeReference("k", LongType)()
      val mid = n.toLong * 100L / 2
      (Seq(EqualTo(part, Literal(5L))),
        Seq(GreaterThanOrEqual(k, Literal(mid)),
          LessThan(k, Literal(mid + 100000L))))
    }

    def plan(path: String, m: TxLog.Manifest, threshold: String): Long = {
      spark.conf.set("graft.txlog.distributedIndexThreshold", threshold)
      try {
        val idx = new graft.sources.TxLogFileIndex(spark, path, m, full = true)
        val (pf, df) = filtersFor(m.files.size)
        idx.listFiles(pf, df).map(_.files.size.toLong).sum
      } finally spark.conf.unset("graft.txlog.distributedIndexThreshold")
    }

    // ---- 10^4: real empty files → driver walk vs distributed parity ----
    val p4 = s"$root/t10k"
    fs.delete(new Path(p4), true)
    entries(10000).foreach(f => fs.create(new Path(s"$p4/data/$f"), true).close())
    writeCkpt(p4, 10000)
    val m4 = manifestOf(10000)
    var driverPlanned = 0L
    var distPlanned = 0L
    t("driver walk 10k files (incl stat)")(
      { driverPlanned = plan(p4, m4, Long.MaxValue.toString); driverPlanned })
    t("distributed 10k files")(
      { distPlanned = plan(p4, m4, "1"); distPlanned })
    assert(driverPlanned == distPlanned,
      s"parity lost: driver $driverPlanned vs distributed $distPlanned")

    // ---- 10^5 / 10^6: fabricated enumeration, distributed only (the
    // driver walk at these sizes IS the boundary being removed) ----
    Seq(100000, 1000000).foreach { n =>
      val p = s"$root/t$n"
      fs.delete(new Path(p), true)
      writeCkpt(p, n)
      val m = manifestOf(n)
      t(s"distributed ${n / 1000}k files, cold")(plan(p, m, "1"))
      t(s"distributed ${n / 1000}k files, warm")(plan(p, m, "1"))
    }
    spark.stop()
  }
}
