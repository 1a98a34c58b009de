"""Tests of the benchmark itself: generator determinism, the percentile and
ratio helpers, and every output check rejecting a corrupted result.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import decimal
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    names = sorted(cmp.common_files)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not (cmp.left_only or cmp.right_only or mismatch or errors) and \
        all(same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def test_same_seed_gives_identical_files(self):
        for name, fn in gen.GENERATORS.items():
            a = fn(self.path(f"{name}_a"), 5)
            b = fn(self.path(f"{name}_b"), 5)
            self.assertTrue(same_tree(self.path(f"{name}_a"), self.path(f"{name}_b")), name)
            strip = json.loads(json.dumps(a).replace(self.path(f"{name}_a"), ""))
            self.assertEqual(strip, json.loads(json.dumps(b).replace(self.path(f"{name}_b"), "")))

    def test_other_seed_gives_other_inputs(self):
        for name in ("etl", "dedup_ingest"):
            gen.GENERATORS[name](self.path("x"), 5)
            gen.GENERATORS[name](self.path("y"), 6)
            self.assertFalse(same_tree(self.path("x"), self.path("y")), name)
        self.assertNotEqual(gen.gate_order(5), gen.gate_order(6))
        self.assertEqual(sorted(gen.gate_order(5)), sorted(gen.GATES))

    def test_bad_values_follow_the_seed_rate(self):
        m = gen.gen_bulk(self.path("bulk"), 3)["expected"]
        self.assertEqual(m["bad_values"], m["rows"] // 1000)
        self.assertEqual(sum(m["nulls"].values()), m["bad_values"])

    def test_timestamp_flavours_map_to_datetime(self):
        for t in ("TIMESTAMP", "timestamp_ntz", "TIMESTAMP_NTZ", "TIMESTAMP WITH TIME ZONE",
                  "timestamp"):
            self.assertEqual(gen.target_type("l_shipdate", t), "datetime", t)
        self.assertEqual(gen.target_type("l_quantity", "DOUBLE"), "decimal(15,2)")
        self.assertEqual(gen.target_type("o_orderkey", "BIGINT"), "bigint")
        self.assertEqual(gen.target_type("s_nationkey", "INTEGER"), "int")
        with self.assertRaises(ValueError):
            gen.target_type("x", "BLOB")

    def test_german_number_format(self):
        self.assertEqual(gen.de_number(123456789), "1.234.567,89")
        self.assertEqual(gen.de_number(5), "0,05")
        self.assertEqual(gen.de_date(0), "01.01.1970")


class StatsTest(unittest.TestCase):
    def test_tail_percentile_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_percentile_and_tail(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)
        self.assertEqual(stats.tail(v), (90.0, 90))
        self.assertEqual(stats.tail([1.0, 4.0, 2.0]), (None, 4.0))

    def test_ratios(self):
        self.assertEqual(stats.ratio(3, 0), 0.0)
        self.assertEqual(stats.ratio(3, 4), 0.75)
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        self.assertAlmostEqual(stats.spread([8, 9, 10, 11, 12]), 0.3)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(stats.union_length([]), 0)


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.etl = gen.gen_etl(os.path.join(cls.tmp.name, "etl"), 2)
        cls.dedup = gen.gen_dedup(os.path.join(cls.tmp.name, "dedup"), 2)
        with open(os.path.join(cls.dedup["dir"], cls.dedup["texts"])) as f:
            cls.texts = json.load(f)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    # etl, bulk half: an observation a correct program would produce
    def bulk_obs(self):
        exp = self.etl["bulk"]["expected"]
        table = {"rows": str(exp["rows"])}
        table.update({f"nulls.{c}": str(n) for c, n in exp["nulls"].items()})
        table.update({f"sums.{c}": v for c, v in exp["sums"].items()})
        summary = "l_returnflag;l_linestatus;n;qty\n" + "\n".join(
            f"{rf};{ls};{n};{decimal.Decimal(q) / 100:.6f}" for rf, ls, n, q in exp["groups"])
        return ({"rows": exp["rows"], "error_sample": min(100, exp["bad_values"]),
                 "table": table, "coerce_error_rows": exp["bad_values"]},
                {"dump_lines": exp["rows"] + 1, "summary_text": summary})

    def test_bulk_accepts_correct_and_rejects_corruptions(self):
        m = self.etl["bulk"]
        self.assertEqual(checks.check_bulk(*self.bulk_obs(), m), [])
        corruptions = [
            lambda b, e: b["table"].__setitem__("sums.l_extendedprice", str(
                int(b["table"]["sums.l_extendedprice"]) + 1)),
            lambda b, e: b["table"].__setitem__("nulls.l_tax", "0"),
            lambda b, e: b["table"].__setitem__("rows", str(int(b["table"]["rows"]) - 1)),
            lambda b, e: b.__setitem__("error_sample", 0),
            lambda b, e: b.__setitem__("coerce_error_rows", 0),
            lambda b, e: e.__setitem__("dump_lines", e["dump_lines"] - 1),
            lambda b, e: e.__setitem__("summary_text",
                                       e["summary_text"].rsplit(";", 1)[0] + ";1.000000"),
        ]
        for i, corrupt in enumerate(corruptions):
            b, e = self.bulk_obs()
            corrupt(b, e)
            self.assertNotEqual(checks.check_bulk(b, e, m), [], f"corruption {i} passed")

    def test_upsert_rejects_wrong_merge_semantics(self):
        m = self.etl["upsert"]
        want = gen.upsert_expected(m, 2)
        obs = {"checksum": want[1], "error_sample": 0, "rows": int(want[1][0]),
               "delta": m["deltas"][1]["file"]}
        self.assertEqual(checks.check_upsert(obs, want[1]), [])
        # first-wins instead of last-wins within and across files
        state = {}
        for name in (m["standing"], m["deltas"][0]["file"], m["deltas"][1]["file"]):
            for k, v in gen.parse_order_file(os.path.join(m["dir"], name)):
                state.setdefault(k, v)
        first_wins = [str(x) for x in gen.order_checksum(state)]
        self.assertNotEqual(checks.check_upsert(dict(obs, checksum=first_wins), want[1]), [])
        # a lost delta
        self.assertNotEqual(checks.check_upsert(dict(obs, checksum=want[0]), want[1]), [])
        self.assertNotEqual(checks.check_upsert(dict(obs, error_sample=1), want[1]), [])

    # dedup: the planted pairs a correct judge would return
    def dedup_obs(self, batch=0):
        b = self.dedup["batches"][batch]
        verdicts = [[a, d, gen.jaccard(self.texts[a], self.texts[d])] for a, d in b["planted"]]
        verdicts = [v for v in verdicts if v[2] >= self.dedup["threshold"]]
        return {"batch": batch, "verdicts": verdicts,
                "store_docs": self.dedup["store_docs"] + b["docs"]}

    def test_dedup_accepts_correct_and_rejects_corruptions(self):
        m, t = self.dedup, self.texts
        obs = self.dedup_obs()
        self.assertGreater(len(obs["verdicts"]), 10)
        self.assertEqual(checks.check_dedup(obs, m, t), [])
        first = m["batches"][0]["first_id"]
        unrelated = next(d for d in range(first, first + 50)
                         if all(d != p[1] for p in m["batches"][0]["planted"]))
        bad = dict(obs, verdicts=obs["verdicts"] + [[0, unrelated, 0.9]])
        self.assertNotEqual(checks.check_dedup(bad, m, t), [])
        self.assertNotEqual(checks.check_dedup(dict(obs, verdicts=[]), m, t), [])
        self.assertNotEqual(checks.check_dedup(dict(obs, store_docs=obs["store_docs"] - 1), m, t), [])
        skewed = [[a, b, j - 0.2] for a, b, j in obs["verdicts"]]
        self.assertNotEqual(checks.check_dedup(dict(obs, verdicts=skewed), m, t), [])

    def test_relation_hash_is_order_and_type_insensitive(self):
        rows = [(1, 2.5, "a"), (2, None, "b")]
        self.assertEqual(checks.relation_hash(["k", "v", "s"], rows),
                         checks.relation_hash(["s", "k", "v"], [(r[2], r[0], r[1]) for r in rows[::-1]]))
        self.assertEqual(checks.relation_hash(["k"], [(5,)]),
                         checks.relation_hash(["k"], [(decimal.Decimal("5.00"),)]))
        self.assertNotEqual(checks.relation_hash(["k"], [(5,)]),
                            checks.relation_hash(["k"], [(6,)]))

    def test_gates_reject_a_corrupted_output(self):
        con = checks.duckdb.connect()
        root = os.path.join(self.tmp.name, "gates")
        os.makedirs(os.path.join(root, "g"))
        con.execute(f"COPY (SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)) "
                    f"TO '{root}/g/part-0.parquet' (FORMAT parquet)")
        n, h = checks.relation_hash(["k", "v"], [(2, "y"), (1, "x")])
        self.assertEqual(checks.check_gates(root, ["g"], {"g": {"rows": n, "hash": h}}), [])
        n2, h2 = checks.relation_hash(["k", "v"], [(2, "y"), (1, "z")])
        self.assertNotEqual(checks.check_gates(root, ["g"], {"g": {"rows": n2, "hash": h2}}), [])
        self.assertNotEqual(checks.check_gates(root, ["g"], {"g": {"rows": n + 1, "hash": h}}), [])


if __name__ == "__main__":
    unittest.main()
