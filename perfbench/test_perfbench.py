"""perfbench's own tests. From the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They check that inputs follow the seed and that every output check
rejects a deliberately wrong result: the DuckDB oracle comparison here,
and the JVM-side predicates through the `graft.perfbench.SelfTest` main.
"""
import hashlib
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

TOP_RATED = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders\n"
             "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10")


def digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_seed_determines_inputs(self):
        with tempfile.TemporaryDirectory() as t:
            for w in gen.SCRIPTS:
                a, b, c = (os.path.join(t, f"{w}-{i}") for i in range(3))
                gen.generate(5, w, a)
                gen.generate(5, w, b)
                gen.generate(6, w, c)
                self.assertEqual(digest(a), digest(b), w)
                self.assertNotEqual(digest(a), digest(c), w)

    def test_upserts_insert_and_edit(self):
        import numpy as np
        s = gen.qa_script(np.random.default_rng(1))
        ids = [r[0] for b in s["batches"] for r in b["rows"]]
        self.assertTrue(any(i >= gen.N_DOCS for i in ids))
        self.assertTrue(any(i < gen.N_DOCS for i in ids))
        self.assertTrue(all(b["probe"] >= gen.N_DOCS for b in s["batches"]))

    def test_documents_have_the_sf01_duplicate_shape(self):
        import numpy as np
        texts = gen.documents(np.random.default_rng(2)).column("text").to_pylist()
        self.assertEqual(len(texts), gen.N_DOCS)
        # the exact duplicates, plus the rare two near duplicates of one doc
        self.assertGreaterEqual(len(texts) - len(set(texts)), gen.N_EXACT_DUPS)
        self.assertLessEqual(len(texts) - len(set(texts)), 2 * gen.N_EXACT_DUPS)
        near = [t for t in texts if t.endswith(" dup")]
        self.assertGreaterEqual(len(near), gen.N_NEAR_DUPS - gen.N_EXACT_DUPS)
        # nearly every near duplicate is another doc's text plus " dup"
        base = set(texts)
        self.assertGreater(sum(t[:-4] in base for t in near), 0.9 * len(near))


class OracleCheckTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dir = cls.tmp.name
        gen.generate(3, "admin_mixed", cls.dir)
        import duckdb
        con = duckdb.connect()
        con.sql(f"CREATE VIEW orders AS SELECT * FROM '{cls.dir}/orders.parquet'")
        cls.rows = [list(r) for r in con.sql(
            oracle.parameterize("top_rated", TOP_RATED, {"n": 5})).fetchall()]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, rows, columns=("o_orderkey", "o_custkey", "o_totalprice"), n=5):
        out = {"query": "top_rated", "params": {"n": n}, "columns": list(columns), "rows": rows}
        return oracle.check(ROOT, self.dir, [out], {"top_rated": TOP_RATED})

    def test_right_rows_pass(self):
        self.assertEqual(self.check(self.rows), [])

    def test_wrong_value_fails(self):
        bad = [list(r) for r in self.rows]
        bad[2][2] += 0.01
        self.assertEqual(len(self.check(bad)), 1)

    def test_missing_row_fails(self):
        self.assertEqual(len(self.check(self.rows[:-1])), 1)

    def test_wrong_parameter_fails(self):
        self.assertEqual(len(self.check(self.rows, n=6)), 1)

    def test_wrong_columns_fail(self):
        self.assertEqual(len(self.check(self.rows, columns=("o_orderkey", "o_custkey", "price"))), 1)

    def test_unknown_oracle_shape_fails(self):
        with self.assertRaises(ValueError):
            oracle.parameterize("top_rated", TOP_RATED.replace("LIMIT 10", "LIMIT 9"), {"n": 5})

    def test_trainprep_parameters_reach_the_sql(self):
        sql = ("x AS (SELECT 1),\nmw AS (SELECT mix_lang, n, 1.0::DOUBLE / mk.k AS w FROM mcnt, mk)"
               " SELECT start_tok // 256 AS seq_id, start_tok % 256 AS tok_offset")
        got = oracle.parameterize("pipeline_trainprep_scored", sql,
                                  {"budget": 128, "shares": {"exec": 1, "query": 3}})
        self.assertIn("start_tok // 128", got)
        self.assertIn("start_tok % 128", got)
        self.assertIn("('query', 3.0::DOUBLE / 4.0::DOUBLE)", got)


class JvmCheckTest(unittest.TestCase):
    def test_jvm_checks_reject_wrong_results(self):
        cp = build.build(ROOT)
        r = subprocess.run(["java", "-cp", cp, "graft.perfbench.SelfTest"],
                           capture_output=True, text=True, timeout=120)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
