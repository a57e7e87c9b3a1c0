"""Seeded input generators for the two workloads.

Every generator draws from its own numpy stream keyed by (seed, workload),
so the same seed gives byte-identical files and a different seed gives
different data and different request literals. The engine only ever
sees the files and the spec.json written here.
"""
import itertools
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

# b37 autosome lengths in Mb; marker density follows length.
CHR_MB = [249, 243, 198, 191, 181, 171, 159, 146, 141, 136, 135, 134,
          115, 107, 102, 90, 81, 78, 59, 63, 48, 51]
BASES = np.array(list("ACGT"))
ANCESTRIES = ["EUR", "EAS", "AFR", "SAS", "AMR"]
TRAITS = ["urate", "gout", "bmi", "t2d", "egfr", "ldl", "hdl", "crp", "sbp", "height"]


def rng_for(seed, workload):
    return np.random.default_rng([int(seed), sum(map(ord, workload))])


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def write_tsv(table, path):
    """Headerless, unquoted TSV; doubles in shortest round-trip form."""
    pcsv.write_csv(table, path, pcsv.WriteOptions(
        include_header=False, delimiter="\t", quoting_style="none"))


def text(*parts):
    """Element-wise concatenation of string/number arrays and literals."""
    cols = [p if isinstance(p, str) else pc.cast(pa.array(p), pa.string()) for p in parts]
    return pc.binary_join_element_wise(*cols, "")


def write_spec(spec, out):
    with open(os.path.join(out, "spec.json"), "w") as f:
        json.dump(spec, f, sort_keys=True)


# ---------------------------------------------------------------- markers

def markers(rng, n):
    """`n` b37 markers over 22 chromosomes with unique positions per chr,
    so `kgp_id` (chr:pos_ref_alt) is unique as the b37 primary key needs.
    Returns parallel arrays sorted by (chr, pos)."""
    share = np.array(CHR_MB, dtype=float) / sum(CHR_MB)
    per_chr = np.floor(share * n).astype(int)
    per_chr[: n - per_chr.sum()] += 1
    chrs, poss = [], []
    for c, (k, mb) in enumerate(zip(per_chr, CHR_MB), start=1):
        pos = np.unique(rng.integers(10_000, mb * 1_000_000, size=int(k * 1.2) + 16))
        pos = np.sort(rng.choice(pos, size=k, replace=False))
        chrs.append(np.full(k, c, dtype=np.int32))
        poss.append(pos.astype(np.int32))
    chr_, pos = np.concatenate(chrs), np.concatenate(poss)
    ref_i = rng.integers(0, 4, size=n)
    alt_i = (ref_i + rng.integers(1, 4, size=n)) % 4
    ref, alt = BASES[ref_i], BASES[alt_i]
    kgp = text(chr_, ":", pos, "_", ref, "_", alt).to_numpy(zero_copy_only=False)
    return {"chr": chr_, "pos": pos, "ref": ref, "alt": alt, "kgp_id": kgp}


def rs_names(rng, n):
    """`n` distinct rsIDs."""
    return text("rs", rng.permutation(n * 20)[:n] + 1000).to_numpy(zero_copy_only=False)


# ---------------------------------------------------------------- gwas_lookup

LOOKUP_MARKERS = 20_000
LOOKUP_STUDIES = 10
# share of the markers each study reports
COVERAGE = 0.5
# more lookups than a window can run, so the clock, not the script, ends it
LOOKUP_REQUESTS = 1000
LOOKUP_WARM = 30


def gen_gwas_lookup(seed, out):
    rng = rng_for(seed, "gwas_lookup")
    n_markers, n_studies = LOOKUP_MARKERS, LOOKUP_STUDIES
    m = markers(rng, n_markers)
    write_parquet(pa.table({
        "kgp_id": m["kgp_id"], "chr": m["chr"], "pos": m["pos"],
        "ref": m["ref"], "alt": m["alt"]}), os.path.join(out, "b37.parquet"))

    alias = rng.random(n_markers) < 0.3
    write_parquet(pa.table({
        "kgp_id": m["kgp_id"][alias],
        "marker_name": rs_names(rng, int(alias.sum()))}), os.path.join(out, "marker.parquet"))

    names = [f"{TRAITS[i % len(TRAITS)]}_{ANCESTRIES[i % len(ANCESTRIES)]}_{i + 1}"
             for i in range(n_studies)]
    n = rng.integers(2_000, 500_000, size=n_studies)
    cases = [int(v * 0.3) if i % 3 else None for i, v in enumerate(n)]
    write_parquet(pa.table({
        "id": pa.array(range(1, n_studies + 1), pa.int32()),
        "name": names,
        "ancestry": [ANCESTRIES[i % len(ANCESTRIES)] for i in range(n_studies)],
        "model_formula": ["y ~ g + age + sex + pc1 + pc2"] * n_studies,
        "gwas_date": [f"20{18 + i % 6}-0{1 + i % 9}-1{i % 10}" for i in range(n_studies)],
        "n": pa.array(n, pa.int64()),
        "n_case": pa.array(cases, pa.int64()),
        "n_control": pa.array([None if c is None else int(v) - c for c, v in zip(cases, n)],
                              pa.int64()),
        "imputed": [i % 4 != 0 for i in range(n_studies)],
        "impute_ref_panel": ["HRC" if i % 2 else "1000G" for i in range(n_studies)],
        "summary_only": [i % 5 == 0 for i in range(n_studies)]}),
        os.path.join(out, "study.parquet"))

    parts = []
    for s in range(1, n_studies + 1):
        idx = np.flatnonzero(rng.random(n_markers) < COVERAGE)
        parts.append(gwas_rows(rng, m, idx, s))
    write_parquet(pa.concat_tables(parts), os.path.join(out, "gwas.parquet"))

    write_spec({"warm": lookup_requests(rng, m, names, LOOKUP_WARM),
                "requests": lookup_requests(rng, m, names, LOOKUP_REQUESTS)}, out)


def maybe_null(rng, values, share):
    mask = pa.array(rng.random(len(values)) < share)
    return pc.if_else(mask, pa.scalar(None, pa.array(values).type), values)


def geno(rng, k):
    g = rng.integers(0, 2000, size=(3, k))
    return text(g[0], "/", g[1], "/", g[2])


def gwas_rows(rng, m, idx, study):
    k = len(idx)
    maf = np.round(rng.beta(0.6, 2.0, size=k) / 2, 6)
    return pa.table({
        "kgp_id": m["kgp_id"][idx],
        "study_id": pa.array(np.full(k, study), pa.int32()),
        "a1": m["alt"][idx],
        "a2": maybe_null(rng, m["ref"][idx], 0.02),
        "stat": np.round(rng.normal(0, 2, size=k), 6),
        "se": maybe_null(rng, np.round(rng.uniform(0.01, 0.5, size=k), 6), 0.05),
        "neg_log10_p": maybe_null(rng, np.round(rng.exponential(1.2, size=k), 6), 0.02),
        "impute_score": maybe_null(rng, np.round(rng.uniform(0.05, 1.0, size=k), 6), 0.1),
        "maf_all": maybe_null(rng, maf, 0.05),
        "maf_aff": maybe_null(rng, np.round(maf * rng.uniform(0.8, 1.2, size=k), 6), 0.3),
        "maf_unaff": maybe_null(rng, np.round(maf * rng.uniform(0.8, 1.2, size=k), 6), 0.3),
        "geno_all": maybe_null(rng, geno(rng, k), 0.05),
        "geno_aff": maybe_null(rng, geno(rng, k), 0.3),
        "geno_unaff": maybe_null(rng, geno(rng, k), 0.3),
        "hwe_p_all": maybe_null(rng, np.round(rng.uniform(0, 1, size=k), 6), 0.05),
        "hwe_p_aff": maybe_null(rng, np.round(rng.uniform(0, 1, size=k), 6), 0.3),
        "hwe_p_unaff": maybe_null(rng, np.round(rng.uniform(0, 1, size=k), 6), 0.3)})


# One block of the app's lookup mix; the script repeats it, shuffled per
# block, so every run sees the same composition and the seed moves only
# the order and the literals. The weights are an assumption: the app
# (app.R:82-176) says which lookups exist, not how often each runs, and
# there is no usage log. Region browsing is the app's main view, so it
# gets the largest share; locus windows and study facets are drill-downs
# from a region; marker search starts a session; chr counts and the
# catalog are page loads.
LOOKUP_BLOCK = ["region"] * 7 + ["locus"] * 4 + ["facet"] * 4 + ["marker"] * 3 + \
    ["chr_counts", "catalog"]


def lookup_requests(rng, m, study_names, n):
    """`n` lookups with seeded literals: region widths log-uniform over
    10 kb..5 Mb, locus anchors Zipf-popular, marker patterns cut from
    real ids."""
    blocks = -(-n // len(LOOKUP_BLOCK))
    kinds = [k for _ in range(blocks) for k in rng.permutation(LOOKUP_BLOCK)][:n]
    popular = rng.permutation(len(m["kgp_id"]))
    reqs = []
    for kind in kinds:
        r = {"kind": str(kind)}
        if kind in ("region", "facet"):
            i = int(rng.integers(len(m["pos"])))
            width = int(math.exp(rng.uniform(math.log(1e4), math.log(5e6))))
            start = max(1, int(m["pos"][i]) - width // 2)
            r.update(chr=int(m["chr"][i]), start=start, end=start + width)
            if kind == "facet":
                k = int(rng.integers(2, 4))
                r["names"] = sorted(str(s) for s in rng.choice(study_names, size=k, replace=False))
        elif kind == "locus":
            rank = min(int(rng.zipf(1.3)), len(popular))
            r["kgp_id"] = str(m["kgp_id"][popular[rank - 1]])
        elif kind == "marker":
            i = int(rng.integers(len(m["pos"])))
            pos = str(m["pos"][i])
            digits = 4 if len(pos) > 5 else 3
            r["pattern"] = f"^{m['chr'][i]}:{pos[:-digits]}[0-9]{{{digits}}}_"
        reqs.append(r)
    return reqs


# ---------------------------------------------------------------- study_ingest

# Commit kinds of one cycle; runs measure whole cycles. The cycle is an
# assumption: the reference's ETL (wrangle_data.Rmd) loads one study
# file at a time, so most commits are appends; revised loads and
# retractions of a study's results happen but are rare, and compaction
# runs periodically. There is no log of how often each happens.
COMMIT_CYCLE = ["append", "append", "merge", "append", "delete", "append", "append", "compact"]
# Untimed, before the cycles: each verb once.
WARM_VERBS = ["append", "merge", "delete", "compact"]
INGEST_MARKERS = 40_000
INGEST_STUDIES = 10
LOAD_ROWS = 500
REVISION_ROWS = 150
# cycles in the script; a run measures at least two (graftbench.StudyIngest)
N_CYCLES = 4
# TxLog's resolved-snapshot cache holds 8 versions (TxLog.scala:255)
SNAPSHOT_CACHE = 8


def pins(rng, n_commits, warm):
    """The version each commit's pinned read asks for, or None. The cache
    is an LRU, so a version misses it when it has not been touched for
    eight rounds: a pin is at least 9 versions old (each round since
    touched a newer head) and was not pinned in the 8 rounds before. The
    warm-up rounds pin the created table, version 0; until the history
    is long enough no round is pinned."""
    out = []
    for i in range(1, n_commits + 1):
        if i <= warm:
            out.append(0)
            continue
        recent = set(out[-SNAPSHOT_CACHE:])
        free = [v for v in range(i - SNAPSHOT_CACHE) if v not in recent]
        out.append(int(rng.choice(free)) if free else None)
    return out


def gen_study_ingest(seed, out):
    """A marker panel, a base load and a commit script. As in the
    reference's per-chromosome loads, each load is one study on one
    chromosome, with a fixed row count so every seed commits the same
    volume. Loads name a marker positionally, by an rs alias (some
    aliases unknown to the panel, so they do not resolve) or with a `,N`
    composite suffix; a share of each load fails QC (info < 0.3 or
    maf < 1e-4). After an untimed warm-up of each verb, commits cycle
    through the verbs."""
    rng = rng_for(seed, "study_ingest")
    n_markers = INGEST_MARKERS
    m = markers(rng, n_markers)
    alias = rng.random(n_markers) < 0.3
    rs = rs_names(rng, n_markers)
    panel = pa.table({"kgp_id": m["kgp_id"], "snp": m["kgp_id"], "chr": m["chr"],
                      "pos": m["pos"], "ref": m["ref"], "alt": m["alt"]})
    aliased = panel.filter(pa.array(alias)).set_column(1, "snp", pa.array(rs[alias]))
    write_tsv(pa.concat_tables([panel, aliased]), os.path.join(out, "markers.tsv"))
    on_chr = {c: np.flatnonzero(m["chr"] == c) for c in range(1, 23)}
    unknown = itertools.count(10 ** 8, 10 ** 5)

    def load(name, study, chr_, rows):
        idx = np.sort(rng.choice(on_chr[chr_], size=rows, replace=False))
        k = len(idx)
        kgp = m["kgp_id"][idx]
        form = rng.random(k)
        by_alias = alias[idx] & (form < 0.5)
        # rs names no marker file carries, so they stay unresolved
        lost = ~by_alias & (form < 0.04)
        composite = ~by_alias & ~lost & (form < 0.08)
        cpa = np.where(by_alias, rs[idx], kgp).astype(object)
        cpa[lost] = text("rs", np.arange(lost.sum()) + next(unknown)).to_numpy(
            zero_copy_only=False)
        cpa[composite] = text(kgp[composite], ",", rng.integers(1, 9, size=composite.sum())
                              ).to_numpy(zero_copy_only=False)
        fail = rng.random(k) < 0.1
        low_info = fail & (rng.random(k) < 0.7)
        info = np.where(low_info, rng.uniform(0.05, 0.29, size=k), rng.uniform(0.3, 1, size=k))
        maf = np.where(fail & ~low_info, rng.uniform(0, 9e-5, size=k),
                       rng.uniform(1e-4, 0.5, size=k))
        cpa = pa.array(cpa, pa.string())
        write_tsv(pa.table({
            "chr_pos_alleles": cpa, "snp_id": cpa, "position": m["pos"][idx],
            "ref": m["ref"][idx], "alt": m["alt"][idx], "maf": np.round(maf, 6),
            "a1": m["alt"][idx], "info_score": np.round(info, 6)}),
            os.path.join(out, f"{name}.mfi.tsv"))
        write_tsv(pa.table({
            "chr_pos_alleles": cpa, "chr": m["chr"][idx], "pos": m["pos"][idx],
            "a2": m["ref"][idx], "stat": np.round(rng.normal(0, 2, size=k), 6),
            "se": np.round(rng.uniform(0.01, 0.5, size=k), 6),
            "p": rng.uniform(1e-9, 1, size=k).round(9), "geno_all": geno(rng, k),
            "hwe_p_all": np.round(rng.uniform(0, 1, size=k), 6)}),
            os.path.join(out, f"{name}.assoc.tsv"))
        return {"mfi": f"{name}.mfi.tsv", "assoc": f"{name}.assoc.tsv", "study": study,
                "chr": chr_}

    def region(chr_):
        """A 5 Mb window around a seeded marker of the chromosome."""
        start = max(1, int(rng.choice(m["pos"][on_chr[chr_]])) - 2_500_000)
        return {"chr": chr_, "start": start, "end": start + 5_000_000}

    pairs = iter(rng.permutation([(s, c) for s in range(1, INGEST_STUDIES + 1)
                                  for c in range(1, 23)]).tolist())
    base = load("load0", *next(pairs), LOAD_ROWS)
    loaded = [(base["study"], base["chr"])]
    commits = []
    kinds = WARM_VERBS + COMMIT_CYCLE * N_CYCLES
    for i, (kind, pin) in enumerate(zip(kinds, pins(rng, len(kinds), len(WARM_VERBS))), start=1):
        if kind == "append":
            s, c = next(pairs)
            commit = {"kind": kind, **load(f"load{i}", s, c, LOAD_ROWS)}
            loaded.append((s, c))
        elif kind == "merge":
            # a revised load of a committed (study, chr): updates and inserts
            s, c = loaded[int(rng.integers(len(loaded)))]
            commit = {"kind": kind, **load(f"load{i}", s, c, REVISION_ROWS)}
        elif kind == "delete":
            s, c = loaded[int(rng.integers(len(loaded)))]
            commit = {"kind": kind, "study": s, "chr": c}
        else:
            commit = {"kind": kind, "chr": loaded[int(rng.integers(len(loaded)))][1]}
        commit["read"] = region(commit["chr"])
        commit["pin"] = pin
        commits.append(commit)
    write_spec({"base": base, "warm": len(WARM_VERBS), "cycle": len(COMMIT_CYCLE),
                "commits": commits}, out)


GENERATORS = {"gwas_lookup": gen_gwas_lookup, "study_ingest": gen_study_ingest}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    GENERATORS[workload](seed, out)
