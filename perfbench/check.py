"""Untimed output checks. Each returns the set of op indexes (into the
run's `ops` list) whose output was wrong; run.py counts those, plus
every op that failed outright, in `failed`.

- gwas_lookup: every lookup against DuckDB over the generated parquet.
- study_ingest: every head and pinned read against a model of the table
  replayed from the generated load files.
"""
import hashlib
import math
import os
import re
from decimal import ROUND_HALF_EVEN, Decimal

import duckdb

NINE = Decimal("1E-9")


def cell(v):
    """Same canonical form as graftbench.Canon on the JVM side."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        d = Decimal(v).quantize(NINE, rounding=ROUND_HALF_EVEN)
        return format(d.copy_abs() if d == 0 else d, "f")
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    text = ",".join(names[i] for i in order) + "\n" + "\n".join(lines)
    return hashlib.sha256(text.encode()).hexdigest()


def query_digest(con, sql):
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    rows = res.fetchall()
    return len(rows), digest(names, rows)


# ---------------------------------------------------------------- gwas_lookup

COMBINED = """
CREATE TABLE combined AS
SELECT * FROM (SELECT * FROM gwas WHERE impute_score >= 0.3) g
LEFT JOIN b37 USING (kgp_id)
LEFT JOIN (SELECT id AS study_id, name, ancestry, n, n_case, n_control FROM study) s
  USING (study_id)
"""


def lookup_sql(r):
    kind = r["kind"]
    region = f"chr = {r.get('chr')} AND pos BETWEEN {r.get('start')} AND {r.get('end')}"
    if kind == "region":
        return f"SELECT * FROM combined WHERE {region}"
    if kind == "facet":
        names = ", ".join(f"'{n}'" for n in r["names"])
        return f"SELECT * FROM combined WHERE {region} AND name IN ({names})"
    if kind == "marker":
        return f"SELECT kgp_id, chr, pos FROM b37 WHERE regexp_matches(kgp_id, '{r['pattern']}')"
    if kind == "locus":
        return ("SELECT c.* FROM combined c, (SELECT chr AS a_chr, pos AS a_pos FROM b37 "
                f"WHERE kgp_id = '{r['kgp_id']}') a WHERE c.chr = a.a_chr "
                "AND c.pos BETWEEN a.a_pos - 10000 AND a.a_pos + 10000")
    if kind == "chr_counts":
        return "SELECT chr, count(*) AS n FROM b37 GROUP BY chr"
    if kind == "catalog":
        return "SELECT * FROM study"
    raise ValueError(kind)


def check_gwas_lookup(indir, spec, result):
    con = duckdb.connect()
    for t in ("b37", "marker", "study", "gwas"):
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{indir}/{t}.parquet')")
    con.execute(COMBINED)
    wrong = set()
    for k, op in enumerate(result["ops"]):
        if not op["ok"]:
            continue
        script = spec["warm" if op["warm"] else "requests"]
        rows, dig = query_digest(con, lookup_sql(script[op["i"]]))
        if (rows, dig) != (op["rows"], op["digest"]):
            wrong.add(k)
    return wrong


# ---------------------------------------------------------------- study_ingest

POSITIONAL = re.compile("[0-9]+:[0-9]+_[A-Z]+_[A-Z]")
TABLE_COLS = ["kgp_id", "study_id", "a1", "a2", "stat", "se", "neg_log10_p", "impute_score",
              "maf_all", "geno_all", "hwe_p_all", "chr", "pos"]


class IngestModel:
    """The table as the load files say it should be, replayed commit by
    commit with the same semantics the workload asks of the engine:
    alias resolution (GwasOps.resolveMarkerIds), QC (GwasOps.qcSplit),
    append, upsert on (kgp_id, study_id), delete of a (study, chr)."""

    def __init__(self, indir):
        self.indir = indir
        self.alias = {}
        with open(os.path.join(indir, "markers.tsv")) as f:
            for line in f:
                kgp, snp, _, _, _, _ = line.rstrip("\n").split("\t")
                if not POSITIONAL.search(snp):
                    self.alias[snp] = kgp
        self.history = {}      # key -> [(commit, row or None)]
        self.by_chr = {}       # chr -> keys ever written
        self.stats = {"load_rows": 0, "resolved": 0, "kept": 0}
        self.commit_rows, self.commit_bytes = {}, {}

    def resolve(self, cpa, snp, ref, alt):
        if re.search("(rs)|(Aff)", cpa):
            kgp = self.alias.get(snp)
            if kgp is None or not kgp.endswith(f"_{ref}_{alt}"):
                return None
        else:
            kgp = cpa
        return re.sub(",[0-9]+", "", kgp)

    def load(self, commit, c):
        """Kept rows of one load file pair, keyed by (kgp_id, study_id)."""
        rows = {}
        mfi = os.path.join(self.indir, c["mfi"])
        assoc = os.path.join(self.indir, c["assoc"])
        self.commit_bytes[commit] = os.path.getsize(mfi) + os.path.getsize(assoc)
        self.commit_rows[commit] = 0
        with open(mfi) as fm, open(assoc) as fa:
            for lm, la in zip(fm, fa):
                cpa, snp, _, ref, alt, maf, a1, info = lm.rstrip("\n").split("\t")
                _, chr_, pos, a2, stat, se, p, geno_all, hwe = la.rstrip("\n").split("\t")
                self.commit_rows[commit] += 1
                self.stats["load_rows"] += 1
                kgp = self.resolve(cpa, snp, ref, alt)
                if kgp is None:
                    continue
                self.stats["resolved"] += 1
                if float(info) < 0.3 or float(maf) < 1e-4:
                    continue
                self.stats["kept"] += 1
                rows[(kgp, c["study"])] = (
                    kgp, c["study"], a1, a2, float(stat), float(se), -math.log10(float(p)),
                    float(info), float(maf), geno_all, float(hwe), int(chr_), int(pos))
        return rows

    def put(self, commit, key, row):
        self.history.setdefault(key, []).append((commit, row))
        if row is not None:
            self.by_chr.setdefault(row[11], set()).add(key)

    def apply(self, commit, c):
        kind = c["kind"]
        if kind in ("base", "append", "merge"):
            for key, row in self.load(commit, c).items():
                self.put(commit, key, row)
        elif kind == "delete":
            for key in self.by_chr.get(c["chr"], ()):
                if key[1] == c["study"] and self.at(key, commit) is not None:
                    self.put(commit, key, None)

    def at(self, key, commit):
        for i, row in reversed(self.history[key]):
            if i <= commit:
                return row
        return None

    def read(self, commit, rd):
        rows = []
        for key in self.by_chr.get(rd["chr"], ()):
            row = self.at(key, commit)
            if row is not None and rd["start"] <= row[12] <= rd["end"]:
                rows.append(row)
        return len(rows), digest(TABLE_COLS, rows)


def check_study_ingest(indir, spec, result):
    model = IngestModel(indir)
    model.apply(0, {"kind": "base", **spec["base"]})
    wrong = set()
    for k, op in enumerate(result["ops"]):
        i = op["i"]
        if op["kind"] in ("read_head", "read_pinned"):
            if not op["ok"]:
                continue
            c = spec["commits"][i - 1]
            at = i if op["kind"] == "read_head" else c["pin"]
            if model.read(at, c["read"]) != (op["rows"], op["digest"]):
                wrong.add(k)
        else:
            model.apply(i, spec["commits"][i - 1])
    return wrong, model
