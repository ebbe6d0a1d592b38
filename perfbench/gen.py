"""Seeded input generators for the three benchmark workloads.

Every generator takes the seed as an argument and writes plain files
(CSV, parquet, JSON) under an output directory; graft only ever sees
those files. The same seed gives byte-identical files; another seed
gives different ones. The planted shares below are the ones NOTES.md
states and tests/test_gen.py checks.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys
from datetime import date, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- weekly_credit -----------------------------------------------------
CREDIT = {
    "weeks": 3,                 # weekly drops, oldest first
    "loans_per_week": 2000,
    "first_week": "2023-01-01",  # a Sunday: weeks run Sunday..Saturday
    "null_share": 0.10,         # of every imputed / flagged column
    "late_share": 0.02,         # rows dated the week before (weekFilter drops them)
    "grade_null_share": 0.03,   # loans without a grade (label filter drops them)
    "grade_noise_share": 0.10,  # grades shifted one band (irreducible error)
    "train_weeks": 2,           # fit on the first 2 weeks, score the rest
}

# Dictionaries the gold one-hot columns use (passed to graft as-is).
PURPOSES = ["car", "credit_card", "debt_consolidation", "home_improvement",
            "house", "medical", "other"]
STATUSES = ["Current", "Fully Paid", "Charged Off", "Late"]
ADDR_STATES = ["CA", "NY", "TX", "FL", "WA", "IL", "PA", "OH", "GA", "NC"]
EMP_TITLES = ["TEACHER", "MANAGER", "NURSE", "DRIVER", "ENGINEER", "SALES",
              "OWNER", "CLERK", "ANALYST", "CHEF", "PILOT", "ACCOUNTANT",
              "TECHNICIAN", "SUPERVISOR", "ATTORNEY"]
EMP_LENGTHS = ["< 1 year", "1 year", "2 years", "5 years", "8 years",
               "10+ years"]
HOME = ["RENT", "OWN", "MORTGAGE", "ANY", "NONE", "OTHER"]
VERIF = ["Verified", "Source Verified", "Not Verified"]
APP_TYPES = ["Individual", "Joint App"]
GRADES = "ABCDEFG"

# Raw column lists, in the order of graft.pipeline.Schemas.
CREDIT_MODE = ["inq_last_6mths", "acc_now_delinq", "delinq_2yrs", "pub_rec",
               "collections_12_mths_ex_med", "chargeoff_within_12_mths",
               "tax_liens", "pub_rec_bankruptcies", "delinq_amnt"]
CREDIT_M1 = ["inq_last_12m", "num_tl_op_past_12m", "inq_fi",
             "mths_since_last_delinq", "mths_since_recent_inq",
             "mths_since_rcnt_il", "mths_since_recent_bc", "num_tl_120dpd_2m",
             "num_tl_30dpd", "num_tl_90g_dpd_24m", "num_accts_ever_120_pd"]
CREDIT_DROPPED = ["last_credit_pull_d", "mths_since_last_record",
                  "mths_since_last_major_derog", "mths_since_recent_bc_dlq",
                  "mths_since_recent_revol_delinq",
                  "sec_app_chargeoff_within_12_mths",
                  "sec_app_collections_12_mths_ex_med",
                  "sec_app_mths_since_last_major_derog"]
DEMO_DROPPED = ["annual_inc_joint", "verification_status_joint",
                "sec_app_earliest_cr_line", "sec_app_inq_last_6mths",
                "sec_app_mort_acc", "sec_app_open_acc", "sec_app_revol_util",
                "sec_app_open_act_il", "sec_app_num_rev_accts"]
FIN_FILL0 = ["revol_util", "total_rev_hi_lim", "tot_coll_amt", "tot_cur_bal",
             "avg_cur_bal", "max_bal_bc", "open_acc", "total_acc",
             "open_acc_6m", "open_act_il", "open_il_12m", "open_il_24m",
             "open_rv_12m", "open_rv_24m", "acc_open_past_24mths",
             "num_actv_bc_tl", "num_actv_rev_tl", "num_rev_accts",
             "num_rev_tl_bal_gt_0", "num_il_tl", "num_bc_tl", "num_op_rev_tl",
             "num_sats", "num_bc_sats", "total_cu_tl"]
FIN_M1 = ["total_bal_il", "total_bal_ex_mort", "total_bc_limit",
          "total_il_high_credit_limit", "tot_hi_cred_lim", "mo_sin_old_il_acct",
          "mo_sin_old_rev_tl_op", "mo_sin_rcnt_rev_tl_op", "mo_sin_rcnt_tl",
          "bc_open_to_buy", "percent_bc_gt_75", "pct_tl_nvr_dlq"]
LOAN_DROPPED = ["url", "desc", "title", "hardship_flag", "hardship_type",
                "hardship_reason", "hardship_status", "deferral_term",
                "hardship_amount", "hardship_start_date", "hardship_end_date",
                "payment_plan_start_date", "hardship_length", "hardship_dpd",
                "hardship_loan_status",
                "orig_projected_additional_accrued_interest",
                "hardship_payoff_balance_amount",
                "hardship_last_payment_amount", "debt_settlement_flag_date",
                "settlement_status", "settlement_date", "settlement_amount",
                "settlement_percentage", "settlement_term", "out_prncp",
                "out_prncp_inv", "total_pymnt", "total_pymnt_inv",
                "total_rec_prncp", "total_rec_int", "total_rec_late_fee",
                "recoveries", "collection_recovery_fee", "last_pymnt_d",
                "next_pymnt_d", "last_pymnt_amnt", "policy_code"]

# Every column silver imputes, fills or flags: each carries nulls at
# CREDIT["null_share"].
IMPUTED = {
    "credit_history": ["earliest_cr_line", "mort_acc"] + CREDIT_MODE + CREDIT_M1,
    "demographic": ["emp_title", "emp_length", "home_ownership"],
    "financial": ["dti", "all_util", "il_util", "bc_util"] + FIN_FILL0 + FIN_M1,
    "loan_terms": [],
}


def week_starts():
    d0 = date.fromisoformat(CREDIT["first_week"])
    return [(d0 + timedelta(days=7 * w)).isoformat()
            for w in range(CREDIT["weeks"])]


def _with_nulls(rng, values, share):
    """Object array with a `share` of entries set to None (empty CSV field)."""
    out = np.asarray(values, dtype=object)
    out[rng.random(len(out)) < share] = None
    return out


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def credit_week(rng, w, week):
    """One week's four raw CSV frames."""
    n = CREDIT["loans_per_week"]
    start = date.fromisoformat(week)
    # snapshot dates inside the window, plus a late share dated the
    # week before (the bronze window filter must drop them)
    offs = rng.integers(0, 7, n)
    late = rng.random(n) < CREDIT["late_share"]
    offs[late] = -rng.integers(1, 7, int(late.sum()))
    snap = np.array([(start + timedelta(days=int(o))).isoformat() for o in offs],
                    dtype=object)
    member = np.array([f"M{w:02d}{i:06d}" for i in range(n)], dtype=object)
    loan_id = np.array([f"L{w:02d}{i:06d}" for i in range(n)], dtype=object)
    nul = CREDIT["null_share"]

    # features the grade is learned from
    int_rate = _money(rng, 5.0, 30.0, n)
    dti = _money(rng, 0.0, 40.0, n)
    annual_inc = _money(rng, 20000, 200000, n)
    loan_amnt = _money(rng, 1000, 40000, n)
    term60 = rng.random(n) < 0.3
    # the rate is priced from the grade, as in the reference's data:
    # seven equal bands of int_rate, blurred by dti
    score = (int_rate - 5.0) / 25.0 * 7.0 + (dti - 20.0) / 40.0 * 0.5
    band = np.clip(np.floor(score), 0, 6).astype(int)
    noisy = rng.random(n) < CREDIT["grade_noise_share"]
    shift = np.where(rng.random(n) < 0.5, -1, 1)
    band = np.where(noisy, np.clip(band + shift, 0, 6), band)
    grade = np.array([GRADES[b] for b in band], dtype=object)
    grade[rng.random(n) < CREDIT["grade_null_share"]] = None

    loan = {
        "id": loan_id, "member_id": member, "snapshot_date": snap,
        "loan_amnt": loan_amnt,
        "funded_amnt": np.round(loan_amnt * rng.uniform(0.9, 1.0, n), 2),
        "funded_amnt_inv": np.round(loan_amnt * rng.uniform(0.8, 1.0, n), 2),
        "term": np.where(term60, "60 months", "36 months").astype(object),
        "int_rate": int_rate,
        "installment": np.round(loan_amnt / np.where(term60, 60, 36)
                                * (1 + int_rate / 100), 2),
        "grade": grade,
        "sub_grade": np.array([f"{g}{k}" if g else None for g, k in
                               zip(grade, rng.integers(1, 6, n))], dtype=object),
        "issue_d": snap.copy(),
        "loan_status": rng.choice(STATUSES, n).astype(object),
        "purpose": rng.choice(PURPOSES, n).astype(object),
        "pymnt_plan": rng.choice(["y", "n"], n).astype(object),
        "debt_settlement_flag": rng.choice(["Y", "N"], n).astype(object),
        "initial_list_status": rng.choice(["w", "f"], n).astype(object),
        "disbursement_method": rng.choice(["Cash", "DirectPay"], n).astype(object),
    }
    for c in LOAN_DROPPED:   # leakage columns: present in the drop, dropped at silver
        loan[c] = rng.integers(0, 1000, n).astype(str).astype(object)

    demo = {
        "member_id": member, "snapshot_date": snap,
        "emp_title": _with_nulls(rng, rng.choice(EMP_TITLES, n), nul),
        "emp_length": _with_nulls(rng, rng.choice(EMP_LENGTHS, n), nul),
        "home_ownership": _with_nulls(rng, rng.choice(HOME, n), nul),
        "annual_inc": annual_inc,
        "verification_status": rng.choice(VERIF, n).astype(object),
        "addr_state": rng.choice(ADDR_STATES, n).astype(object),
        "application_type": rng.choice(APP_TYPES, n).astype(object),
        "zip_code": np.array([f"{z:03d}xx" for z in rng.integers(0, 999, n)],
                             dtype=object),
    }
    for c in DEMO_DROPPED:
        demo[c] = _with_nulls(rng, rng.integers(0, 50, n), 0.5)

    fin = {"member_id": member, "snapshot_date": snap,
           "dti": _with_nulls(rng, dti, nul)}
    for c in ["all_util", "il_util", "bc_util"]:
        fin[c] = _with_nulls(rng, _money(rng, 0, 100, n), nul)
    fin["revol_bal"] = _money(rng, 0, 50000, n)
    fin["dti_joint"] = _with_nulls(rng, _money(rng, 0, 40, n), 0.8)
    fin["revol_bal_joint"] = _with_nulls(rng, _money(rng, 0, 50000, n), 0.8)
    for c in FIN_FILL0 + FIN_M1:
        fin[c] = _with_nulls(rng, rng.integers(0, 60, n).astype(float), nul)

    months = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
              "Oct", "Nov", "Dec"]
    ecl = np.array([f"{months[m]}-{y}" for m, y in
                    zip(rng.integers(0, 12, n), rng.integers(1985, 2020, n))],
                   dtype=object)
    cred = {"member_id": member, "snapshot_date": snap,
            "earliest_cr_line": _with_nulls(rng, ecl, nul),
            "mort_acc": _with_nulls(rng, rng.integers(0, 8, n), nul)}
    for c in CREDIT_MODE:
        cred[c] = _with_nulls(rng, rng.integers(0, 4, n), nul)
    for c in CREDIT_M1:
        cred[c] = _with_nulls(rng, rng.integers(0, 40, n), nul)
    cred[CREDIT_DROPPED[0]] = _with_nulls(rng, snap.copy(), 0.3)
    for c in CREDIT_DROPPED[1:]:
        cred[c] = _with_nulls(rng, rng.integers(0, 90, n), 0.5)

    frames = {"loan_terms": loan, "demographic": demo, "financial": fin,
              "credit_history": cred}
    return {k: pd.DataFrame(v) for k, v in frames.items()}


def gen_weekly_credit(seed, out):
    rng = np.random.default_rng([seed, 1])
    weeks = week_starts()
    for w, week in enumerate(weeks):
        for src, df in credit_week(rng, w, week).items():
            d = os.path.join(out, "raw", src)
            os.makedirs(d, exist_ok=True)
            df.to_csv(os.path.join(d, f"{week}.csv"), index=False)
    meta = {"weeks": weeks, "train_weeks": CREDIT["train_weeks"],
            "purposes": PURPOSES, "statuses": STATUSES,
            "addr_states": ADDR_STATES,
            "loans": CREDIT["weeks"] * CREDIT["loans_per_week"]}
    _write_json(os.path.join(out, "meta.json"), meta)


# --- curation_ingest ---------------------------------------------------
CURATION = {
    "landed_docs": 3000,      # installed into both stores at setup
    "drops": 40,              # more than any run can ingest
    "drop_docs": 300,
    "exact_dup_share": 0.10,  # case/whitespace variants of an earlier doc
    "near_dup_share": 0.10,   # one-token edit of an earlier doc, Jaccard >= 0.9
    "vocab": 20000,
    "tokens": (60, 90),       # tokens per doc
    "threshold": 0.8,         # near-dup Jaccard threshold (word 3-grams)
    "recall_floor": 0.9,      # share of planted near-dups the loop must drop
}


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, n)
    words = set()
    out = []
    for ln in lens:
        while True:
            w = "".join(rng.choice(letters, ln))
            if w not in words:
                words.add(w)
                out.append(w)
                break
    return np.array(out, dtype=object)


def _fresh_doc(rng, vocab):
    k = int(rng.integers(*CURATION["tokens"]))
    return " ".join(vocab[rng.integers(0, len(vocab), k)])


def _exact_variant(rng, text):
    """Same fingerprint (lower-cased, whitespace collapsed), other bytes."""
    toks = text.split(" ")
    mode = int(rng.integers(0, 3))
    if mode == 0:
        return text.upper()
    if mode == 1:
        return "  ".join(toks)
    return " ".join(t.capitalize() for t in toks) + " "


def _near_variant(rng, text, vocab):
    """One token replaced: word-3-gram Jaccard >= 0.9 for >= 60 tokens."""
    toks = text.split(" ")
    i = int(rng.integers(0, len(toks)))
    toks[i] = "zq" + vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(toks)


def gen_curation_ingest(seed, out):
    rng = np.random.default_rng([seed, 2])
    c = CURATION
    vocab = _vocab(rng, c["vocab"])
    texts = [_fresh_doc(rng, vocab) for _ in range(c["landed_docs"])]
    landed = pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                       "text": pa.array(texts, pa.string())})
    pq.write_table(landed, os.path.join(_mk(out), "landed.parquet"))
    # the pool planted duplicates copy from: landed docs plus the clean
    # docs of earlier drops
    pool = list(texts)
    next_id = len(texts)
    drops_dir = _mk(os.path.join(out, "drops"))
    plants = []
    for k in range(c["drops"]):
        n = c["drop_docs"]
        kinds = np.array(["fresh"] * n, dtype=object)
        order = rng.permutation(n)
        n_ex = int(round(n * c["exact_dup_share"]))
        n_nd = int(round(n * c["near_dup_share"]))
        kinds[order[:n_ex]] = "exact"
        kinds[order[n_ex:n_ex + n_nd]] = "near"
        ids, dtexts = [], []
        for kind in kinds:
            if kind == "fresh":
                t = _fresh_doc(rng, vocab)
                src = -1
            else:
                src = int(rng.integers(0, len(pool)))
                t = (_exact_variant(rng, pool[src]) if kind == "exact"
                     else _near_variant(rng, pool[src], vocab))
            ids.append(next_id)
            dtexts.append(t)
            plants.append({"drop": k, "doc_id": next_id, "kind": kind,
                           "source": src})
            next_id += 1
        pool.extend(t for t, kd in zip(dtexts, kinds) if kd == "fresh")
        tbl = pa.table({"doc_id": pa.array(ids, pa.int64()),
                        "text": pa.array(dtexts, pa.string())})
        pq.write_table(tbl, os.path.join(drops_dir, f"drop_{k:03d}.parquet"))
    pd.DataFrame(plants).to_csv(os.path.join(out, "plants.csv"), index=False)
    _write_json(os.path.join(out, "meta.json"), dict(c, tokens=list(c["tokens"])))


# --- warehouse_sql -----------------------------------------------------
WAREHOUSE = {"sf": 0.01}   # TPC-H-shaped: 60k lineitem rows at sf 0.01


def gen_warehouse_sql(seed, out):
    """The star schema of the repo's test data (same tables, columns and
    value ranges), drawn from the seed."""
    rng = np.random.default_rng([seed, 3])
    sf = WAREHOUSE["sf"]
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    def ts(days_from, lo_days, hi_days, n):
        base = np.datetime64(days_from, "us")
        return base + rng.integers(lo_days, hi_days, n).astype("timedelta64[D]")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                    "HOUSEHOLD", "BUILDING"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adjs = ["large", "hot", "small", "cold", "shiny", "matte", "red", "blue"]
    nouns = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": ts("1995-01-01", 0, 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": ts("1995-01-02", 0, 2498, n_li)})
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86400 * 10**6, n_ev)
                    .astype("timedelta64[us]"))
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rng.integers(0, int(15000 * sf), n_ev), pa.int64()),
        "event_type": rng.choice(["signup", "click", "error", "view",
                                  "purchase"], n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write_json(os.path.join(out, "meta.json"), WAREHOUSE)


def _mk(d):
    os.makedirs(d, exist_ok=True)
    return d


def _write_json(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


GENERATORS = {"weekly_credit": gen_weekly_credit,
              "curation_ingest": gen_curation_ingest,
              "warehouse_sql": gen_warehouse_sql}


if __name__ == "__main__":
    GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])
