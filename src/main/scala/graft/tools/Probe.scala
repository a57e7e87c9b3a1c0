package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.tables.Tables._

/** Ad-hoc perf probe for bench outliers — times plan variants so a slow
  * query's cost can be attributed (scan vs expressions vs sort vs
  * index-build) instead of guessed at. */
object Probe {
  def time(tag: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    println(f"[probe] $tag%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-probe")
    import spark.implicits._

    // no args = every section; args name the sections to run
    def section(name: String)(body: => Unit): Unit =
      if (args.isEmpty || args.contains(name)) body

    // warmup
    noop(lineitem(spark, d).limit(1000))

    section("components") {
      // --- dedup_components anatomy (r6: attribute the r3->r5
      // 3.56->5.54s bench drift; the stall-free r6 run measures 2.23s
      // on identical code, so the drift was host-stall noise — these
      // stage timings are the decomposition evidence) ---
      import org.apache.spark.sql.functions.{min => fmin}
      val chain = 50L
      val pairs = spark.range(999)
        .filter(pmod(col("id"), lit(chain)) =!= lit(chain - 1))
        .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
      time("components: pairs scan only")(noop(pairs))
      time("components: edges + initial labels") {
        val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
          .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b"))).distinct()
        noop(edges.groupBy("a").agg(fmin("b")))
      }
      for (iters <- Seq(1, 3, 6))
        time(s"components: capped at $iters rounds")(
          noop(graft.operators.Dedup.components(pairs, maxIters = iters)))
      time("components: full convergence + orderBy (the benched shape)")(
        noop(graft.operators.Dedup.components(pairs).orderBy("doc_id")))
    }

    section("mad") {
      // --- q_mad anatomy (r17: attribute the 5-6 s window — compile
      // vs histogram cut vs the two percentile passes + tally) ---
      val li = lineitem(spark, d)
      time("mad: scan 2 cols count") {
        li.select("l_returnflag", "l_extendedprice").count()
      }
      time("mad: scan 2 cols count (2nd)") {
        li.select("l_returnflag", "l_extendedprice").count()
      }
      println("[probe] mad: distinct prices = " +
        li.select("l_extendedprice").distinct().count() +
        " of " + li.count())
      time("mad: raw histogram groupBy (2nd timing below)") {
        noop(li.groupBy(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v"))
          .agg(count(lit(1)).as("cnt")))
      }
      time("mad: raw histogram groupBy (no cut)") {
        noop(li.groupBy(col("l_returnflag"),
          col("l_extendedprice").cast("double").as("v"))
          .agg(count(lit(1)).as("cnt")))
      }
      time("mad: histogram cut (Checkpoints.cut)") {
        graft.operators.Checkpoints.cut(
          li.groupBy(col("l_returnflag"),
            col("l_extendedprice").cast("double").as("v"))
            .agg(count(lit(1)).as("cnt"))).count()
      }
      time("mad: full madOutliers exact (1st)") {
        noop(graft.operators.Stats.madOutliers(li, "l_returnflag",
          "l_extendedprice"))
      }
      println("[probe] mad: lastStats after 1st = " +
        graft.operators.Quantiles.lastStats)
      time("mad: full madOutliers exact (2nd)") {
        noop(graft.operators.Stats.madOutliers(li, "l_returnflag",
          "l_extendedprice"))
      }
      println("[probe] mad: lastStats after 2nd = " +
        graft.operators.Quantiles.lastStats)
      time("mad: winsorize bounds (refinedExactMulti)") {
        noop(graft.operators.Percentiles.refinedExactMulti(
          li, "l_returnflag",
          Seq(("_lo", "l_extendedprice", 0.05),
            ("_hi", "l_extendedprice", 0.95))))
      }
      println("[probe] mad: lastStats after winsorize bounds = " +
        graft.operators.Quantiles.lastStats)
      time("mad: approx mode") {
        noop(graft.operators.Stats.madOutliers(li, "l_returnflag",
          "l_extendedprice", exact = false))
      }
    }

    section("madjobs") {
      // per-JOB attribution inside madOutliers / winsorize bounds —
      // how many driver-synchronized jobs each refinement query pays
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, Long, String)]()
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val frames = js.stageInfos.lastOption.map(_.details).getOrElse("")
            .split('\n').filter(_.contains("graft."))
            .filterNot(_.contains("graft.tools.Probe"))
          val site = frames.take(2).mkString(" <- ").trim
          jobs.put(js.jobId, (js.time,
            if (site.nonEmpty) site
            else js.stageInfos.lastOption.map(_.name).getOrElse("?")))
        }
        override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, site) = jobs.getOrDefault(je.jobId, (je.time, "?"))
          done.add((je.jobId, je.time - t0, site))
        }
      })
      val li = lineitem(spark, d)
      def phase(tag: String)(f: => Unit): Unit = {
        Thread.sleep(200); done.clear()
        val t0 = System.nanoTime()
        f
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300)
        val items = done.toArray.map(_.asInstanceOf[(Int, Long, String)]).sortBy(_._1)
        val jobSum = items.map(_._2).sum / 1e3
        println(f"[probe] $tag%-28s wall $wall%6.2f s, ${items.length}%2d jobs ${jobSum}%6.2f s in-job, ${wall - jobSum}%6.2f s driver")
        items.foreach { case (id, ms, site) =>
          println(f"[probe]     job $id%4d ${ms / 1e3}%7.3f s  $site") }
      }
      for (i <- 1 to 2) {
        phase(s"madjobs[$i]: madOutliers")(
          noop(graft.operators.Stats.madOutliers(li, "l_returnflag",
            "l_extendedprice")))
        phase(s"madjobs[$i]: winsorize bounds")(
          noop(graft.operators.Percentiles.refinedExactMulti(
            li, "l_returnflag",
            Seq(("_lo", "l_extendedprice", 0.05),
              ("_hi", "l_extendedprice", 0.95)))))
      }
    }

    section("lsh") {
      // sim_ann_lsh anatomy: construction (incl. eager corpusCount) vs
      // Catalyst analysis+optimization vs execution — which layer eats
      // the 2.4 s on a 2646-row corpus
      for (i <- 1 to 2) {
        var df: org.apache.spark.sql.DataFrame = null
        time(s"lsh[$i]: construct (entries fn)") {
          df = graft.queries.PipelineQueries.entries("sim_ann_lsh")(spark, d)
        }
        time(s"lsh[$i]: optimize (executedPlan)") {
          df.queryExecution.executedPlan
        }
        time(s"lsh[$i]: execute (noop)")(noop(df))
        var df2: org.apache.spark.sql.DataFrame = null
        time(s"ivfpq[$i]: construct") {
          df2 = graft.queries.PipelineQueries.entries("sim_ann_ivfpq")(spark, d)
        }
        time(s"ivfpq[$i]: optimize") {
          df2.queryExecution.executedPlan
        }
        time(s"ivfpq[$i]: execute (noop)")(noop(df2))
      }
    }

    section("semantic") {
      // dedup_semantic anatomy: KMeans fit vs disposition (assign +
      // within-cell pairs + components + keeper election)
      val emb = embeddings(spark, d)
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      for (i <- 1 to 2) {
        time(s"semantic[$i]: corpus count")(emb.count())
        val feat = emb.withColumn("features", array_to_vector(col("embedding")))
        var model: org.apache.spark.ml.clustering.KMeansModel = null
        time(s"semantic[$i]: kmeans fit (k=51, 10 iters)") {
          model = new KMeans().setK(51).setSeed(42L).setMaxIter(10).fit(feat)
        }
        time(s"semantic[$i]: full dedup_semantic")(
          noop(graft.queries.PipelineQueries.entries("dedup_semantic")(spark, d)))
      }
    }

    section("maf") {
    // --- q_maf_calc anatomy ---
    val withGeno = lineitem(spark, d).withColumn(
      "geno",
      concat_ws("/", pmod(col("l_partkey"), lit(50)), col("l_suppkey"), col("l_linenumber")))
    val g = split(col("geno"), "/")
    val maf = withGeno.select(
      col("l_orderkey"), col("l_linenumber"), col("geno"),
      ((g.getItem(1).cast("double") + lit(2.0) * g.getItem(0).cast("double")) /
        (lit(2.0) * (g.getItem(0).cast("double") + g.getItem(1).cast("double") +
          g.getItem(2).cast("double")))).as("maf"))
    time("maf: scan only")(noop(lineitem(spark, d).select("l_orderkey", "l_linenumber")))
    time("maf: expressions, no sort")(noop(maf))
    time("maf: + orderBy all cols")(noop(maf.orderBy("l_orderkey", "l_linenumber", "geno", "maf")))
    time("maf: + orderBy keys only")(noop(maf.orderBy("l_orderkey", "l_linenumber")))
    }

    section("ivf") {
    // --- sim_ann_ivf anatomy ---
    val emb = embeddings(spark, d)
    val tmp = java.nio.file.Files.createTempDirectory("probe_ivf").toString
    time("ivf: corpus count")(emb.count())
    var idx: graft.operators.Ivf.IvfIndex = null
    time("ivf: fit (kmeans+write)") { idx = graft.operators.Ivf.fit(emb, tmp, nlist = 16) }
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    time("ivf: query")(noop(graft.operators.Ivf.query(spark, idx, qv, 10, 4, Some(0L))))
    // kmeans alone
    time("ivf: kmeans fit only") {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val feat = emb.withColumn("features", array_to_vector(col("embedding")))
      new KMeans().setK(16).setSeed(42L).setMaxIter(10).fit(feat)
    }
    }

    section("alias") {
    // --- q_alias_resolve anatomy (r6: attribute the 3.8s top cost) ---
    val ar = graft.queries.ReferenceQueries.entries("q_alias_resolve")
    val full = ar(spark, d)
    val noSort = full.queryExecution.analyzed match {
      case org.apache.spark.sql.catalyst.plans.logical.Sort(_, true, child, _) =>
        org.apache.spark.sql.graftbridge.ExprBridge.ofRows(spark, child)
      case _ => full
    }
    time("alias_resolve: exprs + join, no sort")(noop(noSort))
    time("alias_resolve: full (with ORDER BY)")(noop(full))
    time("alias_resolve: full again")(noop(full))
    }

    section("txlogjobs") {
    // per-JOB attribution inside one lifecycle verb: which Spark jobs
    // (and how much non-job driver time) a create/merge/delete pays
    import graft.storage.TxLog
    // A/B: pass "ow" as an extra arg to test the optimized-write lane
    if (args.contains("ow"))
      spark.conf.set("graft.txlog.optimizedWrite", "true")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.CopyOnWriteArrayList[(Int, Long, String)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        // attribute via the result stage's creation stack: first graft
        // frame (the verb internals) — callSite properties are not set
        // on jobs submitted outside an action with a call site
        val frames = js.stageInfos.lastOption.map(_.details).getOrElse("")
          .split('\n').filter(_.contains("graft."))
          .filterNot(_.contains("graft.tools.Probe"))
        val site = frames.take(2).mkString(" <- ").trim
        jobs.put(js.jobId, (js.time,
          if (site.nonEmpty) site
          else js.stageInfos.lastOption.map(_.name).getOrElse("?")))
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val (t0, site) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        done.add((je.jobId, je.time - t0, site))
      }
    })
    val path = sys.props("java.io.tmpdir") + "/graft_probe_txlog_jobs"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    def phase(tag: String)(f: => Unit): Unit = {
      Thread.sleep(200); done.clear()
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      val items = done.toArray.map(_.asInstanceOf[(Int, Long, String)]).sortBy(_._1)
      val jobSum = items.map(_._2).sum / 1e3
      println(f"[probe] $tag%-28s wall $wall%6.2f s, ${items.length}%2d jobs ${jobSum}%6.2f s in-job, ${wall - jobSum}%6.2f s driver")
      items.foreach { case (id, ms, site) =>
        println(f"[probe]     job $id%4d ${ms / 1e3}%7.3f s  $site") }
    }
    for (i <- 1 to 2) {
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val dim = orders(spark, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .coalesce(4)
      phase(s"jobs[$i]: create")(
        TxLog.create(dim, path, hiddenPartitions = Seq("bucket(16, o_custkey)")))
      val upd = dim.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
            lit(BigDecimal("1.1"))).cast("double"))
        .withColumn("o_orderstatus", lit("R"))
      phase(s"jobs[$i]: mergeInto")(
        TxLog.mergeInto(path, upd, Seq("o_orderkey")))
      phase(s"jobs[$i]: deleteWhere")(
        TxLog.deleteWhere(spark, path, col("o_orderkey") % 97 === 0))
      val rd = spark.read.format("graft-txlog").option("path", path).load()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      phase(s"jobs[$i]: read+sort")(noop(rd.orderBy("o_orderkey")))
    }
    }

    section("txlog") {
    // --- q_txlog_hidden lifecycle anatomy (r18 opt round: attribute
    // the ~3.4 s across create/merge/delete/read so the commit path's
    // fixed costs can be sized before touching them) ---
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_probe_txlog_hidden"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    for (i <- 1 to 2) {
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      val dim = orders(spark, d)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .coalesce(4)
      time(s"hidden[$i]: dim noop (scan+coalesce)")(noop(dim))
      time(s"hidden[$i]: bare parquet write of dim")(
        dim.write.mode("overwrite").parquet(path + "_bare"))
      time(s"hidden[$i]: TxLog.create (16 buckets)")(
        TxLog.create(dim, path, hiddenPartitions = Seq("bucket(16, o_custkey)")))
      val upd = dim.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice",
          (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) *
            lit(BigDecimal("1.1"))).cast("double"))
        .withColumn("o_orderstatus", lit("R"))
      time(s"hidden[$i]: mergeInto")(
        TxLog.mergeInto(path, upd, Seq("o_orderkey")))
      time(s"hidden[$i]: deleteWhere")(
        TxLog.deleteWhere(spark, path, col("o_orderkey") % 97 === 0))
      val rd = spark.read.format("graft-txlog").option("path", path).load()
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      time(s"hidden[$i]: read back, no sort")(noop(rd))
      time(s"hidden[$i]: read back + orderBy")(noop(rd.orderBy("o_orderkey")))
    }
    }

    section("unpivot") {
    // --- q_unpivot anatomy (r3 bench regression 3.88 -> 6.81 s) ---
    val unp = lineitem(spark, d).select(
      col("l_orderkey"), col("l_linenumber"),
      expr("stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount) AS (metric, value)"))
    time("unpivot: scan only")(noop(lineitem(spark, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")))
    time("unpivot: stack, no sort")(noop(unp))
    for (i <- 1 to 3)
      time(s"unpivot: + orderBy 4 keys (run $i)")(
        noop(unp.orderBy("l_orderkey", "l_linenumber", "metric", "value")))
    val sorted = unp.orderBy("l_orderkey", "l_linenumber", "metric", "value")
    sorted.write.format("noop").mode("overwrite").save()
    println("[probe] unpivot final plan:\n" + sorted.queryExecution.executedPlan)
    }
    spark.stop()
  }
}
