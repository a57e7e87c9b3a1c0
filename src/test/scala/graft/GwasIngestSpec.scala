package graft

import java.nio.file.{Files, Paths}

import graft.gwas.{GwasIngest, GwasOps}
import org.apache.spark.sql.functions._

class GwasIngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val markerTsv: String = {
    val dir = Files.createTempDirectory("graft_markers")
    val f = dir.resolve("marker_ids_chr22.txt")
    // layout from the reference's awk step: kgp, snp, chr, pos, ref, alt
    Files.writeString(f, Seq(
      "22:100_A_T\trs5992\t22\t100\tA\tT",
      "22:200_G_C\t22:200_G_C\t22\t200\tG\tC",       // positional name → not an alias
      "22:300_AT_C\tAffx-123\t22\t300\tAT\tC",
      "22:300_AT_C\tAffx-123\t22\t300\tAT\tC"        // duplicate line → distinct
    ).mkString("\n"))
    f.toString
  }

  test("marker TSV splits into b37 and alias tables like the reference load") {
    val raw = GwasIngest.readMarkerFile(spark, markerTsv)
    assert(GwasIngest.b37Table(raw).count() == 4)
    val aliases = GwasIngest.markerTable(raw)
      .collect().map(r => r.getString(0) -> r.getString(1)).toSet
    assert(aliases == Set("22:100_A_T" -> "rs5992", "22:300_AT_C" -> "Affx-123"))
  }

  test("mfi ingest flags SNPs below the info-score cutoff") {
    val dir = Files.createTempDirectory("graft_mfi")
    val f = dir.resolve("mfi_chr22.txt")
    Files.writeString(f,
      "22:100_A_T\trs5992\t100\tA\tT\t0.2\tA\t0.95\n" +
      "22:200_G_C\trs600\t200\tG\tC\t0.1\tG\t0.05")
    val mfi = GwasIngest.readMfi(spark, f.toString)
    val flags = mfi.collect().map(r => r.getString(1) -> r.getBoolean(8)).toMap
    assert(flags == Map("rs5992" -> false, "rs600" -> true))
  }

  test("chr-partitioned gwas layout prunes region queries to one partition") {
    val out = "/tmp/graft_gwas_partitioned"
    val b37 = Seq(("1:1_A_T", 1, 1), ("2:2_G_C", 2, 2), ("3:3_A_G", 3, 3))
      .toDF("kgp_id", "chr", "pos")
    val gwas = Seq(("1:1_A_T", 1, 1.5, 0.9), ("2:2_G_C", 1, 0.7, 0.9),
        ("3:3_A_G", 1, 2.2, 0.9))
      .toDF("kgp_id", "study_id", "stat", "impute_score")
    GwasOps.writePartitioned(gwas, b37, out)
    val scan = spark.read.parquet(out).filter(col("chr") === 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    assert(scan.count() == 1)
    // the physical layout really is one directory per chromosome
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.sameElements(Array("chr=1", "chr=2", "chr=3")))
    // the written layout registers as-is: the combined view keeps the
    // fact's chr, and a region query prunes the fact to one partition
    val study = Seq((1, "s1", "EUR", 100, 50, 50))
      .toDF("id", "name", "ancestry", "n", "n_case", "n_control")
    graft.gwas.GwasViews.register(spark, b37, b37, study, spark.read.parquet(out))
    val region = spark.sql(graft.gwas.GwasViews.regionSql(2, 0, 10))
    assert(region.select("kgp_id", "study_id", "stat", "chr", "pos", "name")
      .as[(String, Int, Double, Int, Int, String)].collect().toSeq ==
      Seq(("2:2_G_C", 1, 0.7, 2, 2, "s1")))
    val factScans = region.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(factScans.size == 1 &&
      factScans.head.partitionFilters.exists(_.references.exists(_.name == "chr")),
      s"no chr partition filter on the fact:\n${region.queryExecution.sparkPlan}")
  }
}
