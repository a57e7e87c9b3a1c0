package graft.gwas

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The gwasDB data model, as Spark case classes / Datasets.
  * Schemas from /root/reference/R/gwas_ddl.sql:1-75 and
  * gwas_ddl_postgres.sql (TEXT alleles, integer plink chr codings).
  */
object schema {
  /** Marker positions (build 37): gwas_ddl.sql:4-10. */
  case class B37(kgp_id: String, chr: Int, pos: Int, ref: String, alt: String)

  /** rsID / Affy alias → kgp_id: gwas_ddl.sql:13-18. */
  case class Marker(kgp_id: String, marker_name: String)

  /** Study metadata: gwas_ddl.sql:23-39. */
  case class Study(id: Int, name: String, ancestry: String,
                   model_formula: String, gwas_date: String, n: Long,
                   n_case: Option[Long], n_control: Option[Long],
                   imputed: Boolean, impute_ref_panel: String,
                   summary_only: Boolean)

  /** Per-marker per-study summary stats: gwas_ddl.sql:42-64. */
  case class GwasResult(kgp_id: String, study_id: Int, a1: String,
                        a2: Option[String], stat: Double, se: Option[Double],
                        neg_log10_p: Option[Double],
                        impute_score: Option[Double],
                        maf_all: Option[Double], maf_aff: Option[Double],
                        maf_unaff: Option[Double], geno_all: Option[String],
                        geno_aff: Option[String], geno_unaff: Option[String],
                        hwe_p_all: Option[Double], hwe_p_aff: Option[Double],
                        hwe_p_unaff: Option[Double])
}

/** The reference's ETL + query semantics as composable DataFrame ops.
  * Each function cites the R it re-expresses; everything is declarative
  * so Catalyst prunes/pushes — the literal translation (R closures over
  * collected vectors) would not survive 100 TB, these do.
  */
object GwasOps {

  /** `maf_calc`: genotype-count string "hom1/het/hom2" → allele freq
    * `(het + 2*hom1) / (2*total)` (wrangle_data.Rmd:197-201). Pure
    * split/cast arithmetic — codegen'd, unlike the reference's
    * per-element R lambda. */
  def mafCalc(geno: Column): Column = {
    val g = split(geno, "/")
    val hom1 = g.getItem(0).cast("double")
    val het = g.getItem(1).cast("double")
    val hom2 = g.getItem(2).cast("double")
    (het + lit(2.0) * hom1) / (lit(2.0) * (hom1 + het + hom2))
  }

  /** `neg_log10_p = -log10(p)` (wrangle_data.Rmd:265). */
  def negLog10P(p: Column): Column = -log10(p)

  /** kgp_id synthesis `chr:pos_ref_alt` (wrangle_data.Rmd:65). */
  def kgpId(chr: Column, pos: Column, ref: Column, alt: Column): Column =
    concat(chr, lit(":"), pos, lit("_"), ref, lit("_"), alt)

  /** Re-extract ref/alt alleles from a kgp_id by regex
    * (wrangle_data.Rmd:217). */
  def refFromKgp(kgp: Column): Column = regexp_extract(kgp, "_([ACGT]+)_", 1)
  def altFromKgp(kgp: Column): Column = regexp_extract(kgp, "_([ACGT]+)$", 1)

  /** Strip ",NNN" suffixes from composite marker ids
    * (wrangle_data.Rmd:268). */
  def stripIdSuffix(kgp: Column): Column = regexp_replace(kgp, ",[0-9]+", "")

  /** Pseudo-autosomal fixup: ids loaded from chrXY files carry an `X:`
    * prefix that must read `XY:` — the reference's
    * `sed 's/^X:/XY:/g'` pass (wrangle_data.Rmd:321). */
  def fixXYIds(kgp: Column): Column = regexp_replace(kgp, "^X:", "XY:")

  /** HWE long→wide pivot: one row per (chr, snp, a1, a2), columns per
    * test ∈ {ALL, AFF, UNAFF} (wrangle_data.Rmd:207-213, 241-245).
    * All five reference value groups — geno, o_het, e_het, p, maf
    * (`values_from = c(geno, o_het, e_het, p, maf)`,
    * wrangle_data.Rmd:210,316). Explicit pivot values — no discovery
    * pass, single shuffle. */
  def pivotHwe(hweLong: DataFrame): DataFrame =
    hweLong
      .withColumn("maf", mafCalc(col("geno")))
      .groupBy("chr", "snp", "a1", "a2")
      .pivot("test", Seq("ALL", "AFF", "UNAFF"))
      .agg(first(col("geno")).as("geno"),
        first(col("o_het")).as("o_het"), first(col("e_het")).as("e_het"),
        first(col("p")).as("hwe_p"), first(col("maf")).as("maf"))

  /** Marker alias resolution — the id-normalization join every
    * reference load runs (load_urate2020_gwas.Rmd:159-161; marker side
    * re-derivation from :111): load rows left-join the marker alias
    * table on (snp_id = marker_name, ref, alt) — the marker side's
    * ref/alt re-extracted from its positional kgp_id — then rows whose
    * `chr_pos_alleles` carries an rs/Affx name take the marker table's
    * kgp_id while positional names keep chr_pos_alleles, and `,NNN`
    * composite suffixes are stripped. An rs/Affx row with no marker
    * match resolves to NULL kgp_id (the reference's NA — it feeds the
    * orphan audit, not the gwas insert).
    *
    * Scale: the marker side is alias-table-sized (≪ the load fact); no
    * broadcast hint — AQE broadcasts when it fits, else this is one
    * shuffle on a 3-column key. Pass `chrXY = true` for chrXY loads to
    * apply the reference's `sed s/^X:/XY:/` pass (wrangle_data.Rmd:321)
    * to the resolved id. */
  def resolveMarkerIds(load: DataFrame, marker: DataFrame,
                       chrXY: Boolean = false): DataFrame = {
    val m = marker.select(
      col("kgp_id").as("kgp_id_marker_table"),
      col("marker_name"),
      refFromKgp(col("kgp_id")).as("ref_marker_table"),
      altFromKgp(col("kgp_id")).as("alt_marker_table"))
    val resolved =
      when(col("chr_pos_alleles").rlike("(rs)|(Aff)"), col("kgp_id_marker_table"))
        .otherwise(col("chr_pos_alleles"))
    val fixed = if (chrXY) fixXYIds(stripIdSuffix(resolved)) else stripIdSuffix(resolved)
    load
      .join(m,
        load("snp_id") === m("marker_name") &&
          load("ref") === m("ref_marker_table") &&
          load("alt") === m("alt_marker_table"),
        "left")
      .withColumn("kgp_id", fixed)
      .drop("kgp_id_marker_table", "marker_name", "ref_marker_table", "alt_marker_table")
  }

  /** QC split (info_score < 0.3 / maf < floor — wrangle_data.Rmd:234,
    * load_urate2020_gwas.Rmd:138): returns (kept, removed-key-pairs).
    * One filter each over the same scan; `removed` is the
    * `no_gwas_result` feed. */
  def qcSplit(gwas: DataFrame, minInfo: Double = 0.3, minMaf: Double = 1e-4)
      : (DataFrame, DataFrame) = {
    // NULL thresholds (summary-only / non-imputed studies) must not
    // fail QC — without the coalesce, three-valued logic drops those
    // rows from BOTH outputs
    val fails = coalesce(col("impute_score") < minInfo, lit(false)) ||
      coalesce(col("maf_all") < minMaf, lit(false))
    (gwas.filter(!fails), gwas.filter(fails).select("kgp_id", "study_id"))
  }

  /** Region query `chr == c AND pos BETWEEN start AND end`
    * (app.R:82-87) — a pushed-down scan over a chr-partitioned layout
    * prunes to one partition. */
  def regionQuery(b37: DataFrame, chr: Int, start: Int, end: Int): DataFrame =
    b37.filter(col("chr") === chr && col("pos").between(start, end))

  /** Marker pattern search (app.R:96-101). */
  def markerSearch(b37: DataFrame, pattern: String): DataFrame =
    b37.filter(col("kgp_id").rlike(pattern))
      .select("kgp_id", "chr", "pos")
      .orderBy("chr", "pos")

  /** The `combined`/export view (postgres_process.Rmd:137): gwas ⟕ b37
    * ⟕ reduced study, QC'd on impute_score. Study is dimension-sized →
    * broadcast; b37 is marker-sized → shuffle join on kgp_id (bucketed
    * by kgp_id at scale, this is co-located). The reduced study join
    * carries `ancestry` so app.R's `facet_grid(ancestry ~ name)` option
    * (app.R:56-60,185-189) is answerable from the view. A fact that
    * already carries `chr` ([[writePartitioned]]'s layout, the same
    * value b37 holds) keeps its own: b37 joins without `chr`, so a
    * region filter on `chr` prunes the fact's chr partitions. */
  def combinedView(gwas: DataFrame, b37: DataFrame, study: DataFrame): DataFrame =
    gwas
      .filter(col("impute_score") >= 0.3)
      .join(if (gwas.columns.contains("chr")) b37.drop("chr") else b37,
        Seq("kgp_id"), "left")
      .join(
        broadcast(study.select(
          col("id").as("study_id"), col("name"), col("ancestry"), col("n"),
          col("n_case"), col("n_control"))),
        Seq("study_id"), "left")

  /** Locus window: everything within ±halfWindow of a marker's position
    * (app.R:148-154, ±10 kb there). */
  def locusWindow(combined: DataFrame, b37: DataFrame, markerId: String,
                  halfWindow: Int = 10000): DataFrame = {
    val anchor = b37.filter(col("kgp_id") === markerId)
      .select(col("chr").as("a_chr"), col("pos").as("a_pos"))
    combined
      .crossJoin(broadcast(anchor))
      .filter(col("chr") === col("a_chr") &&
        col("pos").between(col("a_pos") - halfWindow, col("a_pos") + halfWindow))
      .drop("a_chr", "a_pos")
  }

  /** Per-chromosome marker counts (wrangle_data.Rmd:132). */
  def chrCounts(b37: DataFrame): DataFrame =
    b37.groupBy("chr").agg(count(lit(1)).as("n")).orderBy("chr")

  /** Load-audit anti join: rows whose kgp_id is absent from b37
    * (wrangle_data.Rmd:353-356, 376-381). */
  def orphans(load: DataFrame, b37: DataFrame): DataFrame =
    load.join(b37, Seq("kgp_id"), "left_anti")

  /** Persist the audit feed: append removed-pair rows — qcSplit's
    * second output and/or `orphans(...)` keys — to the stored
    * `no_gwas_result` table, the reference's post-load audit append
    * (wrangle_data.Rmd:376-381). Append-mode parquet: each load adds
    * its rows; readers see the union. Pairs only — never the stats
    * payload — so the table stays tiny relative to the fact. */
  def appendNoGwasResult(removed: DataFrame, path: String): Unit =
    removed.select("kgp_id", "study_id").write.mode("append").parquet(path)

  /** Read the persisted audit table back (for GwasViews.register). */
  def readNoGwasResult(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Write the gwas fact partitioned by chromosome — the layout that
    * makes regionQuery/locusWindow partition-prune at 100 TB. */
  def writePartitioned(gwas: DataFrame, b37: DataFrame, path: String): Unit =
    gwas
      .join(b37.select("kgp_id", "chr"), Seq("kgp_id"), "left")
      .write.partitionBy("chr").mode("overwrite").parquet(path)
}
