"""Tests of the benchmark's own parts: the seeded generators and the
correctness checks. No JVM needed:

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import shutil
import sys
import unittest
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen    # noqa: E402

SCRATCH = HERE.parent / ".bench_build" / "test"


def files_under(d):
    return sorted(p.relative_to(d) for p in Path(d).rglob("*") if p.is_file())


def same_tree(a, b):
    fa, fb = files_under(a), files_under(b)
    return fa == fb and all(filecmp.cmp(Path(a, f), Path(b, f), shallow=False)
                            for f in fa)


class Scratch(unittest.TestCase):
    def setUp(self):
        self.dir = SCRATCH / self.id().rsplit(".", 1)[-1]
        shutil.rmtree(self.dir, ignore_errors=True)
        self.dir.mkdir(parents=True)

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)


class GeneratorTest(Scratch):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w, g in gen.GENERATORS.items():
            a, b, c = (self.dir / w / x for x in "abc")
            g(7, str(a))
            g(7, str(b))
            g(8, str(c))
            self.assertTrue(same_tree(a, b), f"{w}: seed 7 twice differs")
            self.assertFalse(same_tree(a, c), f"{w}: seeds 7 and 8 agree")

    def test_weekly_credit_planted_shares(self):
        gen.gen_weekly_credit(3, str(self.dir))
        con = duckdb.connect()
        c = gen.CREDIT
        for src, cols in gen.IMPUTED.items():
            raw = f"{self.dir}/raw/{src}/*.csv"
            n = con.execute(f"SELECT count(*) FROM read_csv('{raw}', all_varchar=true)").fetchone()[0]
            self.assertEqual(n, c["weeks"] * c["loans_per_week"])
            for col in cols:
                nulls = con.execute(f"SELECT count(*) FILTER (WHERE {col} IS NULL) "
                                    f"FROM read_csv('{raw}', all_varchar=true)").fetchone()[0]
                self.assertAlmostEqual(nulls / n, c["null_share"], delta=0.02, msg=col)
        loans = f"{self.dir}/raw/loan_terms/*.csv"
        # a late row is dated before the week its file is named after
        late, nograde = con.execute(rf"""
            SELECT avg(CASE WHEN CAST(snapshot_date AS DATE) <
                            CAST(regexp_extract(filename, '(\d+-\d+-\d+)\.csv', 1) AS DATE)
                       THEN 1 ELSE 0 END),
                   avg(CASE WHEN grade IS NULL THEN 1 ELSE 0 END)
            FROM read_csv('{loans}', all_varchar=true, filename=true)""").fetchone()
        self.assertAlmostEqual(late, c["late_share"], delta=0.01)
        self.assertAlmostEqual(nograde, c["grade_null_share"], delta=0.01)

    def test_curation_planted_shares(self):
        gen.gen_curation_ingest(3, str(self.dir))
        c = gen.CURATION
        con = duckdb.connect()
        per_drop = con.execute(f"""
            SELECT drop, count(*), sum(CASE WHEN kind = 'exact' THEN 1 ELSE 0 END),
                   sum(CASE WHEN kind = 'near' THEN 1 ELSE 0 END)
            FROM read_csv('{self.dir}/plants.csv', header=true) GROUP BY drop""").fetchall()
        self.assertEqual(len(per_drop), c["drops"])
        for _, n, ex, nd in per_drop:
            self.assertEqual(n, c["drop_docs"])
            self.assertEqual(ex / n, c["exact_dup_share"])
            self.assertEqual(nd / n, c["near_dup_share"])
        # the planted pairs are what they claim: same fingerprint for an
        # exact copy, Jaccard in [0.9, 1) for a near one
        texts = dict(con.execute(
            f"SELECT doc_id, text FROM read_parquet(['{self.dir}/landed.parquet', "
            f"'{self.dir}/drops/*.parquet'])").fetchall())
        fresh = [i for i in sorted(texts) if i < c["landed_docs"]]
        fresh += [r[0] for r in con.execute(
            f"SELECT doc_id FROM read_csv('{self.dir}/plants.csv', header=true) "
            "WHERE kind = 'fresh' ORDER BY doc_id").fetchall()]
        norm = lambda t: " ".join(t.lower().split())
        for doc, kind, src in con.execute(
                f"SELECT doc_id, kind, source FROM read_csv('{self.dir}/plants.csv', header=true) "
                "WHERE kind <> 'fresh' AND drop < 5").fetchall():
            a, b = texts[doc], texts[fresh[src]]
            if kind == "exact":
                self.assertEqual(norm(a), norm(b))
                self.assertNotEqual(a, b)
            else:
                j = check._jaccard(check._shingles(a), check._shingles(b))
                self.assertTrue(0.9 <= j < 1.0, j)


class CorruptedOutputTest(Scratch):
    """The checks pass on a correct output and fail on a corrupted one."""

    def test_curation_check_catches_a_lost_survivor(self):
        in_dir = self.dir / "in"
        gen.gen_curation_ingest(4, str(in_dir))
        n = 2
        drops = sorted((in_dir / "drops").glob("*.parquet"))[:n]
        con = duckdb.connect()
        files = ", ".join(f"'{p}'" for p in [in_dir / "landed.parquet"] + drops)
        drop_files = ", ".join(f"'{p}'" for p in drops)
        # a correct output: exact survivors by the rule, near-dup survivors
        # = drop docs that are not planted near dups
        exact = con.execute(rf"""
            WITH fp AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) f
                        FROM read_parquet([{files}])),
                 keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f)
            SELECT doc_id FROM keep WHERE doc_id IN
              (SELECT doc_id FROM read_parquet([{drop_files}])) ORDER BY 1""").fetchall()
        near = con.execute(f"""
            SELECT doc_id FROM read_csv('{in_dir}/plants.csv', header=true)
            WHERE drop < {n} AND kind <> 'near'""").fetchall()
        result = {"drops_processed": n, "check_dir": str(self.dir / "out")}

        def write(kind, ids):
            d = self.dir / "out" / f"kept_{kind}"
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
            pq.write_table(pa.table({"doc_id": pa.array([i[0] for i in ids], pa.int64())}),
                           d / "part-0.parquet")

        write("exact", exact)
        write("neardup", near)
        checks = check.check_curation_ingest(str(in_dir), result)
        self.assertTrue(all(ok for _, ok, _ in checks), checks)
        write("exact", exact[1:])
        checks = check.check_curation_ingest(str(in_dir), result)
        self.assertFalse(checks[0][1], "a lost exact survivor must fail the check")

    def test_warehouse_check_catches_a_wrong_value(self):
        in_dir = self.dir / "in"
        out = self.dir / "out"
        gen.gen_warehouse_sql(4, str(in_dir))
        (out / "q").mkdir(parents=True)
        sql = ("SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n FROM nation "
               "GROUP BY n_regionkey ORDER BY n_regionkey")
        (out / "oracle_sql.json").write_text(json.dumps({"q": sql}))
        con = duckdb.connect()
        con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{in_dir}/nation.parquet')")
        tbl = con.execute(sql).arrow()
        pq.write_table(tbl, out / "q" / "part-0.parquet")
        result = {"check_dir": str(out)}
        self.assertTrue(all(ok for _, ok, _ in check.check_warehouse_sql(str(in_dir), result)))
        bad = tbl.set_column(1, "n", pa.array([6] + tbl.column("n").to_pylist()[1:], pa.int64()))
        pq.write_table(bad, out / "q" / "part-0.parquet")
        self.assertFalse(any(ok for _, ok, _ in check.check_warehouse_sql(str(in_dir), result)))


if __name__ == "__main__":
    unittest.main()
