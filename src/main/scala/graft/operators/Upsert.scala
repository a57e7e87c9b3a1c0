package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge/upsert semantics over immutable parquet — the reference's
  * load pattern (`INSERT INTO gwas SELECT ... FROM load_gwas` onto a
  * (kgp_id, study_id) primary key, postgres_process.Rmd:121) as a
  * declarative operator, and what a Delta MERGE would do here.
  *
  * Scale shape: the anti join shuffles on the key (or broadcasts when
  * updates are small — the common case for corrections), the union is
  * free. The transactional, file-granular form over a stored table is
  * [[graft.storage.TxLog.mergeInto]].
  */
object Upsert {

  /** Primary-key audit: the key tuples of `df` that violate
    * uniqueness, with their duplicate counts — the reference's PK
    * constraints (gwas_ddl.sql:42-64) in detectable form. Postgres
    * REJECTS a duplicate load at insert time; an immutable-parquet
    * lake can only audit after the fact, so this is the standing
    * data-quality query a PK-bearing table runs after every load.
    * One map-side-combinable groupBy on the keys; the output is
    * violation-sized, never table-sized. */
  def pkViolations(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** Bounded EAGER uniqueness probe shared by the merge operators: one
    * Spark job over the (small, by each operator's own assumption)
    * update/change feed, surfacing the first offending key. Eager
    * because a lazy raise_error column only fires if the optimizer
    * happens to keep the side-effecting expression alive, which no
    * Catalyst contract guarantees. */
  private def requireUnique(df: DataFrame, keys: Seq[String], err: String): Unit = {
    val dup = pkViolations(df, keys)
      .select(concat_ws(",", keys.map(k => col(k).cast("string")): _*))
      .limit(1).collect()
    require(dup.isEmpty,
      s"$err for key (${keys.mkString(",")})=" +
        s"(${dup.headOption.map(_.getString(0)).getOrElse("")})")
  }

  /** updates win on key collision; everything else is kept.
    *
    * A duplicate key WITHIN `updates` has no well-defined winner — the
    * unguarded union would silently keep both rows and the merged
    * table would carry a duplicate primary key. By default this runs
    * the [[pkViolations]] probe over `updates` — NOTE: an eager,
    * bounded Spark job at DataFrame-CONSTRUCTION time, like scdType2's
    * guard. Because the probe is a separate job from the returned
    * plan, a non-deterministic `updates` could pass validation yet
    * join different rows later — persist/cache `updates` first if its
    * lineage is not deterministic. `preValidated = true` skips the
    * probe for feeds already audited upstream. */
  def mergeByKey(existing: DataFrame, updates: DataFrame, keys: Seq[String],
                 preValidated: Boolean = false): DataFrame = {
    if (!preValidated) requireUnique(updates, keys, "mergeByKey: duplicate update rows")
    updates.unionByName(existing.join(updates.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** SCD Type 2: apply a change batch to a versioned dimension, keeping
    * full history. `dim` carries `valid_from`/`valid_to` (valid_to NULL
    * = current version); `changes` carries the keys + tracked attrs.
    * For each key whose tracked attrs actually differ, the current row
    * closes at `effectiveDate` and a fresh open version is inserted;
    * identical changes are no-ops; keys new to the dimension open their
    * first version; closed history never changes.
    *
    * Scale shape: ONE left join of current rows to changes on the key
    * feeds the closed/unchanged/new-version branches (Catalyst reuses
    * the exchange across the three projections of the same join), plus
    * one anti join for brand-new keys — broadcast-able whenever the
    * change batch is small, which is the daily-dimension-feed case.
    * History rows pass through untouched with no shuffle. Dates are
    * ISO strings for engine portability.
    *
    * A key appearing twice in one batch has no well-defined version
    * order — the left join would fan out into duplicate closed rows
    * and multiple open versions (silent history corruption). Fail
    * loudly instead, like a transactional MERGE on a multi-match: by
    * default this runs the [[pkViolations]] probe over `changes`.
    * NOTE the probe is an EAGER, bounded Spark job at
    * DataFrame-CONSTRUCTION time (a lazy raise_error column only
    * fires if the optimizer keeps it alive, which no Catalyst
    * contract guarantees) — callers composing lazy pipelines should
    * expect the action here, and a change feed with non-deterministic
    * lineage should be persisted/cached BEFORE the call so the rows
    * the probe validates are the rows the join later reads.
    * `preValidated = true` skips the probe for feeds audited
    * upstream. */
  def scdType2(dim: DataFrame, changes: DataFrame, keys: Seq[String],
               attrs: Seq[String], effectiveDate: String,
               validFrom: String = "valid_from",
               validTo: String = "valid_to",
               preValidated: Boolean = false): DataFrame = {
    val outCols = (keys ++ attrs).map(col) ++ Seq(col(validFrom), col(validTo))
    val history = dim.filter(col(validTo).isNotNull).select(outCols: _*)
    val current = dim.filter(col(validTo).isNull)
    if (!preValidated)
      requireUnique(changes, keys, "scdType2: duplicate change rows")
    val chR = changes.select(
      keys.map(col) ++ attrs.map(a => col(a).as(s"_ch_$a")): _*)
      .withColumn("_ch_present", lit(1))
    val j = current.join(chR, keys, "left")
    // null-safe attr compare: a null attr on either side is a real value
    val differs = col("_ch_present").isNotNull &&
      attrs.map(a => !(col(a) <=> col(s"_ch_$a"))).reduce(_ || _)
    val closed = j.filter(differs).select(
      (keys ++ attrs).map(col) ++
        Seq(col(validFrom), lit(effectiveDate).as(validTo)): _*)
    val unchanged = j.filter(!differs).select(outCols: _*)
    val newVersions = j.filter(differs).select(
      keys.map(col) ++ attrs.map(a => col(s"_ch_$a").as(a)) ++
        Seq(lit(effectiveDate).as(validFrom),
          lit(null).cast("string").as(validTo)): _*)
    val brandNew = chR.join(current.select(keys.map(col): _*), keys, "left_anti")
      .select(
        keys.map(col) ++ attrs.map(a => col(s"_ch_$a").as(a)) ++
          Seq(lit(effectiveDate).as(validFrom),
            lit(null).cast("string").as(validTo)): _*)
    history.unionByName(closed).unionByName(unchanged)
      .unionByName(newVersions).unionByName(brandNew)
  }

  /** AS-OF lookup against an SCD Type 2 dimension — the read side of
    * [[scdType2]]: for each fact row, the dimension VERSION that was
    * valid at the fact's `asOfCol` instant (valid_from ≤ asOf <
    * valid_to, open-ended current rows matching everything after their
    * valid_from). Facts with no valid version at their instant keep
    * NULL attributes (left semantics — the fact is never dropped).
    *
    * Scale shape: an EQUI-join on the dimension keys with the validity
    * window as a residual predicate — hash/sort-merge join territory,
    * never a nested loop; the history side is |keys| × versions, the
    * usual broadcast candidate. ISO-date strings compare correctly
    * lexicographically (the scdType2 storage contract). */
  def scd2Lookup(facts: DataFrame, dim: DataFrame, keys: Seq[String],
                 asOfCol: String, validFrom: String = "valid_from",
                 validTo: String = "valid_to"): DataFrame = {
    // side-QUALIFIED references: a facts frame carrying its own
    // valid_from/valid_to (e.g. one derived from another SCD table)
    // must not make these ambiguous
    val window = facts(asOfCol) >= dim(validFrom) &&
      (dim(validTo).isNull || facts(asOfCol) < dim(validTo))
    val joined = facts.join(dim,
      keys.map(k => facts(k) === dim(k)).reduce(_ && _) && window, "left")
    keys.foldLeft(joined)((df, k) => df.drop(dim(k)))
  }
}
