package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

import graft.gwas.GwasOps
import graft.operators.{Dedup, Similarity}
import graft.plans.TopK

/** Property-based invariants over randomized inputs — the algebraic
  * guarantees the operator library promises regardless of data.
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  /** Raw-ScalaCheck sampling (no scalatest bridge in the offline
    * dependency set): draw n samples and run the property on each. */
  private def forAll[A](g: Gen[A], n: Int = 8)(f: A => Unit): Unit = {
    var drawn = 0
    var attempts = 0
    while (drawn < n && attempts < n * 20) {
      g.sample.foreach { a => f(a); drawn += 1 }
      attempts += 1
    }
    assert(drawn == n, s"generator too sparse: $drawn/$n samples")
  }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private val genoGen = for {
    a <- Gen.choose(0, 1000); b <- Gen.choose(0, 1000); c <- Gen.choose(0, 1000)
    if a + b + c > 0
  } yield s"$a/$b/$c"

  test("property: mafCalc always lands in [0, 1]") {
    forAll(Gen.listOfN(50, genoGen)) { genos =>
      whenever(genos.nonEmpty) {
        val bad = genos.toDF("geno")
          .select(GwasOps.mafCalc(col("geno")).as("maf"))
          .filter(col("maf") < 0.0 || col("maf") > 1.0 || col("maf").isNull)
          .count()
        assert(bad == 0)
      }
    }
  }

  test("property: rolling hash is a pure function of content") {
    forAll(Gen.listOfN(20, Gen.alphaNumStr)) { texts =>
      whenever(texts.nonEmpty) {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val h = graft.operators.TextOps.rollhash(df)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        texts.zipWithIndex.foreach { case (t, i) =>
          texts.zipWithIndex.foreach { case (u, j) =>
            if (t.toLowerCase == u.toLowerCase) assert(h(i.toLong) == h(j.toLong))
          }
        }
      }
    }
  }

  test("property: exact dedup partitions ids and keeps minimal survivors") {
    val docGen = Gen.listOfN(30, Gen.oneOf("aa bb", "cc dd", "ee ff", "gg hh"))
    forAll(docGen) { texts =>
      whenever(texts.nonEmpty) {
        val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        val groups = Dedup.exact(df).collect()
        assert(groups.map(_.getLong(1)).sum == texts.length) // partition
        assert(groups.map(_.getLong(0)).distinct.length == groups.length)
        groups.foreach { g => // survivor is min id of its content group
          val content = texts(g.getLong(0).toInt)
          val minId = texts.zipWithIndex.filter(_._1 == content).map(_._2).min
          assert(g.getLong(0) == minId.toLong)
        }
      }
    }
  }

  test("property: cosine of a vector with itself is 1, symmetric in arguments") {
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0, 10.0)).suchThat(_.exists(_ != 0.0))
    forAll(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val df = Seq((a.toArray, b.toArray)).toDF("a", "b")
      val r = df.select(
        Similarity.cosine(col("a"), col("a")).as("self"),
        Similarity.cosine(col("a"), col("b")).as("ab"),
        Similarity.cosine(col("b"), col("a")).as("ba")).head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      assert(r.getDouble(1) == r.getDouble(2))
      assert(r.getDouble(1) >= -1.0 - 1e-12 && r.getDouble(1) <= 1.0 + 1e-12)
    }
  }

  test("property: TopKPerGroup equals sort-take per group on random data") {
    val rowGen = Gen.listOfN(60,
      for { g <- Gen.choose(0, 4); v <- Gen.choose(-1000, 1000) } yield (g, v))
    forAll(rowGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex.map { case ((g, v), i) => (g, v, i.toLong) }
          .toDF("g", "v", "id")
        val got = TopK.topKPerGroup(df, Seq(col("g")),
            Seq(col("v").desc, col("id")), k = 2)
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val expect = rows.zipWithIndex
          .map { case ((g, v), i) => (g, v, i.toLong) }
          .groupBy(_._1).values
          .flatMap(_.sortBy(t => (-t._2, t._3)).take(2))
          .toSeq.sorted
        assert(got == expect)
      }
    }
  }

  test("property: Percentiles.exact equals the built-in aggregate on random data with nulls") {
    val rowGen = for {
      g <- Gen.choose(0, 3)
      v <- Gen.option(Gen.choose(-100, 100).map(_.toDouble / 4))
    } yield (s"g$g", v)
    forAll(Gen.listOfN(60, rowGen), n = 5) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("g", "v")
        val ps = Seq(("p10", 0.1), ("p50", 0.5), ("p99", 0.99))
        val ours = graft.operators.Percentiles.exact(df, "g", "v", ps)
          .orderBy("g").collect()
        val builtin = df.groupBy("g")
          .agg(expr("percentile(v, 0.1)").as("p10"),
            expr("percentile(v, 0.5)").as("p50"),
            expr("percentile(v, 0.99)").as("p99"))
          .orderBy("g").collect()
        assert(ours.length == builtin.length)
        ours.zip(builtin).foreach { case (o, b) =>
          assert(o.getString(0) == b.getString(0))
          (1 to 3).foreach { i =>
            if (b.isNullAt(i)) assert(o.isNullAt(i))
            else assert(math.abs(o.getDouble(i) - b.getDouble(i)) < 1e-9,
              s"${o.getString(0)} col $i: ${o.getDouble(i)} vs ${b.getDouble(i)}")
          }
        }
      }
    }
  }

  test("property: pack_sequences offsets telescope for random token counts") {
    forAll(Gen.listOfN(40, Gen.choose(1, 300)), n = 5) { lens =>
      whenever(lens.nonEmpty) {
        val docs = lens.zipWithIndex
          .map { case (n, i) => (i.toLong, ("w " * n).trim) }
          .toDF("doc_id", "text")
        val packed = graft.operators.Packing
          .packSequences(docs, size(split(col("text"), " ")), budget = 128)
          .orderBy("doc_id").collect()
        var expect = 0L
        packed.foreach { r =>
          assert(r.getLong(2) == expect)
          assert(r.getLong(3) == r.getLong(2) / 128)
          expect += r.getLong(1)
        }
        assert(expect == lens.map(_.toLong).sum)
      }
    }
  }

  test("property: TxLog.mergeInto == mergeByKey semantics for arbitrary update feeds") {
    // whatever the keys/partitions, the transactional merge's latest
    // snapshot equals the in-memory reference semantics (updates win,
    // moved keys leave no stale row), and v1 stays the original table —
    // through the rewrite and DV forms of mergeInto and through
    // applyChanges (the same feed typed 'update', then with a subset of
    // keys typed 'delete')
    import graft.storage.TxLog
    val tableGen = for {
      base <- Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0L, 30L), Gen.choose(0, 3), Gen.choose(-100, 100)))
      upd <- Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0L, 35L), Gen.choose(0, 3), Gen.choose(-100, 100)))
      dels <- Gen.someOf(base.map(_._1) ++ upd.map(_._1))
    } yield (base.map(t => (t._1, s"p${t._2}", t._3.toDouble)).distinctBy(_._1),
             upd.map(t => (t._1, s"p${t._2}", t._3.toDouble)).distinctBy(_._1),
             dels.toSet)
    forAll(tableGen, n = 5) { case (base, upd, dels) =>
      import spark.implicits._
      val baseDf = base.toDF("k", "part", "v")
      val updDf = upd.toDF("k", "part", "v")
      def snapshot(path: String, version: Option[Long] = None) =
        TxLog.read(spark, path, version).as[(Long, String, Double)].collect().toSet
      def merged(verb: String, want: Set[(Long, String, Double)])(
          merge: String => Long): Unit = {
        val path = java.nio.file.Files
          .createTempDirectory("graft_txlog_prop").toString + "/tbl"
        TxLog.create(baseDf, path, Some("part"))
        merge(path)
        val got = snapshot(path)
        assert(got == want, s"$verb diverged:\n got=$got\nwant=$want")
        assert(snapshot(path, Some(1L)) == base.toSet, s"$verb: v1 snapshot drifted")
      }
      val want = graft.operators.Upsert.mergeByKey(baseDf, updDf, Seq("k"))
        .as[(Long, String, Double)].collect().toSet
      merged("mergeInto", want)(TxLog.mergeInto(_, updDf, Seq("k")))
      merged("mergeInto(dv)", want)(
        TxLog.mergeInto(_, updDf, Seq("k"), deletionVectors = true))
      merged("applyChanges", want)(TxLog.applyChanges(_,
        updDf.withColumn("_change_type", lit("update")), Seq("k")))
      // deleted keys: a feed row typed 'delete' (its other columns are
      // ignored), every other update row still typed 'update'
      val kept = upd.filterNot(u => dels(u._1))
      val wantDel = graft.operators.Upsert.mergeByKey(baseDf, kept.toDF("k", "part", "v"), Seq("k"))
        .as[(Long, String, Double)].collect().toSet.filterNot(r => dels(r._1))
      val feed = (kept.map { case (k, p, v) => (k, p, v, "update") } ++
        dels.toSeq.map(k => (k, "p0", 0.0, "delete")))
        .toDF("k", "part", "v", "_change_type")
      merged("applyChanges(delete)", wantDel)(TxLog.applyChanges(_, feed, Seq("k")))
    }
  }

  test("property: dedupLines is idempotent and only ever drops later occurrences") {
    // a deduped corpus has globally-unique lines, so a second pass
    // must keep EVERYTHING; and per doc the kept lines are an
    // order-preserving subsequence of the originals
    val docGen = Gen.listOfN(6,
      Gen.listOfN(5, Gen.oneOf("alpha", "beta", "gamma", "delta", "x y z"))
        .map(_.mkString("\n")))
    forAll(docGen, n = 6) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val once = Dedup.dedupLines(docs).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // order-preserving subsequence check
      texts.zipWithIndex.foreach { case (t, i) =>
        val orig = t.split("\n")
        val kept = once(i.toLong).split("\n").filter(_.nonEmpty)
        var j = 0
        kept.foreach { line =>
          j = orig.indexOf(line, j)
          assert(j >= 0, s"doc $i: '$line' out of order or missing")
          j += 1
        }
      }
      // idempotence on the non-empty survivors
      val survivors = once.toSeq.filter(_._2.nonEmpty)
        .map { case (id, t) => (id, t) }.toDF("doc_id", "text")
      val twice = Dedup.dedupLines(survivors).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      survivors.collect().foreach { r =>
        assert(twice(r.getLong(0)) == r.getString(1),
          s"second pass changed doc ${r.getLong(0)}")
      }
    }
  }

  test("property: skyline equals brute force on random point sets") {
    val ptsGen = Gen.listOfN(60, for {
      x <- Gen.choose(0, 40); y <- Gen.choose(0, 40)
    } yield (x.toDouble, y))
    forAll(ptsGen, n = 6) { pts =>
      import spark.implicits._
      val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "price", "size")
      val ours = graft.operators.Skyline.skyline2(df, "price", "size", buckets = 8)
        .select("id").as[Long].collect().toSet
      val brute = pts.zipWithIndex.filterNot { case ((px, py), _) =>
        pts.exists { case (qx, qy) =>
          qx <= px && qy >= py && (qx < px || qy > py)
        }
      }.map(_._2.toLong).toSet
      assert(ours == brute, s"ours ${ours.size} vs brute ${brute.size}")
    }
  }

  test("property: jaccardJoin equals the unfiltered join on random corpora") {
    val corpusGen = Gen.listOfN(20,
      Gen.listOfN(6, Gen.choose(0, 8).map(i => s"w$i")).map(_.mkString(" ")))
    forAll(corpusGen, n = 5) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (s"d$i", t) }
        .toDF("doc_id", "text")
      val t = 0.6
      val ours = Dedup.jaccardJoin(docs, t).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      // brute force over distinct token sets
      val sets = texts.zipWithIndex
        .map { case (txt, i) => s"d$i" -> txt.split(" ").toSet }
      val brute = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size
        if j >= t
      } yield (a, b)).toSet
      assert(ours == brute,
        s"missing ${brute.diff(ours).take(3)}, extra ${ours.diff(brute).take(3)}")
    }
  }

  test("property: bloom semi filter NEVER drops a true match (zero false negatives)") {
    // the correctness contract bloomJoin rests on: whatever the keys,
    // every fact row whose key exists in dim survives the probe
    val keyGen = for {
      dimKeys <- Gen.nonEmptyListOf(Gen.choose(-1000000L, 1000000L))
      extra <- Gen.listOf(Gen.choose(-1000000L, 1000000L))
    } yield (dimKeys.distinct, extra)
    forAll(keyGen, n = 6) { case (dimKeys, extra) =>
      import spark.implicits._
      val dim = dimKeys.toDF("k")
      val fact = (dimKeys ++ extra).toDF("k")
      val bytes = graft.operators.Joins.keyBloom(dim, "k")
      val kept = graft.operators.Joins.bloomSemiFilter(fact, "k", bytes)
        .as[Long].collect().toSet
      val missing = dimKeys.toSet.diff(kept)
      assert(missing.isEmpty, s"bloom dropped true matches: $missing")
    }
  }
}
