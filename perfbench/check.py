"""Correctness checks, run after the timed section. Each check recomputes
what graft should have produced with DuckDB, from the generated inputs
alone, and returns a list of (name, ok, detail). Every failed entry
counts into the run's `failed`.
"""
import json
import sys
from pathlib import Path

import duckdb

import gen

ROOT = Path(__file__).resolve().parent.parent

# weekly_credit: chance is 1/7; seeds measured 0.50-0.58 (10% of grades
# are shifted one band and the forest is small), so 0.4 means it learned
MACRO_F1_FLOOR = 0.4


# --- weekly_credit -----------------------------------------------------
def expected_feature_columns(meta):
    """Feature-store columns by the gold rules (FIXTURES.md §5): the loan
    spine's numeric columns and one-hots, then each dimension's numeric
    columns, keys and grade dropped."""
    loan = ["id", "loan_amnt", "funded_amnt", "funded_amnt_inv", "int_rate",
            "installment", "term_months", "grade_encoded", "pymnt_plan",
            "debt_settlement_flag", "initial_list_status",
            "disbursement_method"]
    loan += [f"purpose_ohe_{c}" for c in meta["purposes"]]
    loan += [f"loan_status_ohe_{c}" for c in meta["statuses"]]
    demo = ["annual_inc", "emp_length_int"]
    demo += [f"emp_title_ohe_{i}" for i in range(10)] + ["emp_title_ohe_other"]
    demo += [f"home_ownership_ohe_{c}" for c in
             ["RENT", "OWN", "MORTGAGE", "ANY", "NONE", "OTHER", "MISSING"]]
    demo += [f"verification_status_ohe_{c}" for c in gen.VERIF]
    demo += [f"application_type_ohe_{c}" for c in gen.APP_TYPES]
    demo += [f"addr_state_ohe_{c}" for c in meta["addr_states"]]
    fin = (["dti", "all_util", "il_util", "bc_util", "revol_bal"]
           + gen.FIN_FILL0 + gen.FIN_M1
           + ["all_util_missing", "il_util_missing", "bc_util_missing"])
    cred = (["mort_acc"] + gen.CREDIT_MODE + gen.CREDIT_M1
            + ["mort_acc_missing", "months_since_earliest_cr_line",
               "months_since_earliest_cr"])
    return set(loan + demo + fin + cred)


def check_weekly_credit(in_dir, result):
    out = result["lifecycle_dir"]
    meta = json.loads(Path(in_dir, "meta.json").read_text())
    con = duckdb.connect()
    checks = []
    for k, week in enumerate(meta["weeks"]):
        raw = Path(in_dir, "raw", "loan_terms", f"{week}.csv")
        want = con.execute(f"""
            SELECT id, CAST(snapshot_date AS VARCHAR) AS d, grade
            FROM read_csv('{raw}', header=true, all_varchar=true)
            WHERE CAST(snapshot_date AS DATE) BETWEEN DATE '{week}'
                  AND DATE '{week}' + INTERVAL 6 DAY
              AND grade IS NOT NULL
            ORDER BY id""").fetchall()
        label = Path(out, "label_store", f"week={k}")
        got = con.execute(f"""
            SELECT id, CAST(snapshot_date AS VARCHAR), grade
            FROM read_parquet('{label}/*.parquet') ORDER BY id""").fetchall()
        checks.append((f"label_store rows week {k}", got == want,
                       f"{len(got)} rows vs {len(want)} expected"))
        grades = lambda rows: sorted(
            (g, sum(1 for r in rows if r[2] == g)) for g in {r[2] for r in rows})
        checks.append((f"grade map week {k}", grades(got) == grades(want), ""))
        fs = Path(out, "feature_store", f"week={k}")
        cols = {r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{fs}/*.parquet', hive_partitioning=false)").fetchall()}
        want_cols = expected_feature_columns(meta)
        checks.append((f"feature_store columns week {k}", cols == want_cols,
                       f"missing {sorted(want_cols - cols)[:5]} extra {sorted(cols - want_cols)[:5]}"))
        n = con.execute(f"SELECT count(*) FROM read_parquet('{fs}/*.parquet')").fetchone()[0]
        checks.append((f"feature_store rows week {k}", n == len(want),
                       f"{n} vs {len(want)}"))
    for i, f1 in enumerate(result["macro_f1"]):
        checks.append((f"macro_f1 lifecycle {i} >= {MACRO_F1_FLOOR}",
                       f1 >= MACRO_F1_FLOOR, f"{f1:.4f}"))
    return checks


# --- curation_ingest ---------------------------------------------------
def _shingles(text, n=3):
    toks = text.strip().split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b) if a or b else 1.0


def check_curation_ingest(in_dir, result):
    meta = json.loads(Path(in_dir, "meta.json").read_text())
    n = result["drops_processed"]
    drops = sorted(Path(in_dir, "drops").glob("drop_*.parquet"))[:n]
    check = Path(result["check_dir"])
    con = duckdb.connect()
    files = ", ".join(f"'{p}'" for p in [Path(in_dir, "landed.parquet")] + drops)
    con.execute(f"CREATE VIEW docs AS SELECT doc_id, text FROM read_parquet([{files}])")
    drop_files = ", ".join(f"'{p}'" for p in drops)
    con.execute(f"CREATE VIEW drop_docs AS SELECT doc_id, text FROM read_parquet([{drop_files}])")
    checks = []
    # exact: survivors are the drop docs holding the minimum id of their
    # fingerprint over landed ∪ drops (ids grow with arrival)
    want = con.execute(r"""
        WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
                    FROM docs),
             keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
        SELECT doc_id FROM keep WHERE doc_id IN (SELECT doc_id FROM drop_docs)
        ORDER BY doc_id""").fetchall()
    got = con.execute(f"SELECT doc_id FROM read_parquet('{check}/kept_exact/*.parquet') "
                      "ORDER BY doc_id").fetchall()
    checks.append(("exact survivors = min id per fingerprint", got == want,
                   f"{len(got)} kept vs {len(want)} expected"))
    # near-dup: every dropped doc has an earlier doc at Jaccard >= threshold
    kept = {r[0] for r in con.execute(
        f"SELECT doc_id FROM read_parquet('{check}/kept_neardup/*.parquet')").fetchall()}
    texts = dict(con.execute("SELECT doc_id, text FROM docs").fetchall())
    drop_ids = [r[0] for r in con.execute("SELECT doc_id FROM drop_docs").fetchall()]
    dropped = sorted(set(drop_ids) - kept)
    index = {}
    for i in sorted(texts):
        for s in _shingles(texts[i]):
            index.setdefault(s, []).append(i)
    thr = meta["threshold"]
    unjustified = []
    for d in dropped:
        sd = _shingles(texts[d])
        cands = {c for s in sd for c in index.get(s, ()) if c < d}
        if not any(_jaccard(sd, _shingles(texts[c])) >= thr for c in cands):
            unjustified.append(d)
    checks.append((f"every near-dup drop has an earlier doc at Jaccard >= {thr}",
                   not unjustified, f"{len(unjustified)} of {len(dropped)} unjustified"))
    plants = con.execute(f"""SELECT doc_id FROM read_csv('{Path(in_dir, "plants.csv")}', header=true)
                             WHERE kind = 'near' AND drop < {n}""").fetchall()
    planted = [r[0] for r in plants]
    recall = sum(1 for p in planted if p not in kept) / max(1, len(planted))
    checks.append((f"planted near-dup recall >= {meta['recall_floor']}",
                   recall >= meta["recall_floor"], f"{recall:.3f} of {len(planted)}"))
    return checks


# --- warehouse_sql -----------------------------------------------------
def check_warehouse_sql(in_dir, result):
    """Each query's result equals DuckDB running its oracle SQL, compared
    as the repo's oracle gate does (tools/check_oracle.py)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import check_oracle as oc
    import pyarrow.parquet as pq
    out = Path(result["check_dir"])
    con = duckdb.connect()
    for t in oc.TABLES:
        p = Path(in_dir, f"{t}.parquet")
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    checks = []
    for name, sql in sorted(json.loads((out / "oracle_sql.json").read_text()).items()):
        s = oc.norm(pq.read_table(str(out / name)).to_pandas())
        d = oc.norm(con.execute(sql).df())
        ok = list(s.columns) == list(d.columns) and len(s) == len(d) and all(
            oc.dtype_kind(s[c].dtype) == oc.dtype_kind(d[c].dtype)
            and all(oc.cmp_vals(x, y) for x, y in zip(s[c], d[c]))
            for c in s.columns)
        checks.append((f"{name} equals the DuckDB oracle", ok, f"{len(s)} rows"))
    return checks


CHECKS = {"weekly_credit": check_weekly_credit,
          "curation_ingest": check_curation_ingest,
          "warehouse_sql": check_warehouse_sql}
