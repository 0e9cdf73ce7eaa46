"""Tests of the benchmark's own generators and checkers (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import filecmp
import os
import random
import shutil
import sys
import tempfile
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def scratch():
    os.makedirs(os.path.join(HERE, ".test"), exist_ok=True)
    return tempfile.mkdtemp(dir=os.path.join(HERE, ".test"))


def tree(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class SeedTest(unittest.TestCase):
    def inputs(self, seed):
        work = scratch()
        self.addCleanup(shutil.rmtree, work)
        for make in run.MAKE.values():
            make(random.Random(seed), work, {})
        return work

    def test_same_seed_gives_byte_identical_inputs(self):
        a, b, c = self.inputs(7), self.inputs(7), self.inputs(8)
        self.assertEqual(tree(a), tree(b))
        _, mismatch, errors = filecmp.cmpfiles(a, b, tree(a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, mismatch, _ = filecmp.cmpfiles(a, c, tree(a), shallow=False)
        self.assertTrue(mismatch, "another seed should give other inputs")


class HandWorkedDstTest(unittest.TestCase):
    """The feed of README.md "A feed worked by hand": US rule, tzOffset
    -18000, dstOffset 3600, a reading on each side of each 2024 transition
    and one exactly on each."""

    RAW = [1710032400, 1710036000, 1710039600,
           1730595600, 1730599200, 1730602800]
    LOCAL = [1710014400, 1710018000, 1710025200,
             1730581200, 1730581200, 1730584800]

    def test_transitions(self):
        self.assertEqual(gen.rule_codes("us"), (0x361A2000, 0xB41A2000))
        self.assertEqual(gen.transition_epoch(2024, 3, 3, 2), 1710036000)
        self.assertEqual(gen.transition_epoch(2024, 11, 2, 2), 1730599200)

    def test_local_times(self):
        xml, rows = gen.espi_feed(random.Random(0), feed_id=1, starts=self.RAW,
                                  interval=3600, rule="us", with_cost=False,
                                  with_quality_tou=False, meters=(1,),
                                  tz=-18000)
        self.assertIn("<espi:dstStartRule>361A2000</espi:dstStartRule>", xml)
        self.assertIn("<espi:tzOffset>-18000</espi:tzOffset>", xml)
        self.assertEqual([r[1] for r in rows], self.LOCAL)


def engine_like_outputs(out, want, has_cost, parquet_nullable=()):
    """Writes `want` as the CLI would: one csv part, one parquet part, one
    line-protocol part."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    n = len(want["title"])
    for d in ("csv", "parquet", "influxdb"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    with open(os.path.join(out, "csv", "part-00000.csv"), "w") as f:
        f.write(",".join(check.COLUMNS) + "\n")
        for i in range(n):
            f.write(",".join(check.shortest(float(want[c][i]))
                             if c in ("value", "cost") else str(want[c][i])
                             for c in check.COLUMNS) + "\n")
    fields, arrays = [], []
    for c in check.COLUMNS:
        v = want[c]
        if c == "time_period_start_unix":
            a = pa.array(v * 1000, pa.timestamp("ms"))
        elif c in ("value", "cost"):
            a = pa.array(v, pa.float32())
        elif c in ("tou", "time_period_duration_seconds"):
            a = pa.array(v, pa.int32())
        else:
            a = pa.array(v.astype(str), pa.string())
        fields.append(pa.field(c, a.type, nullable=c in parquet_nullable))
        arrays.append(a)
    pq.write_table(pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
                   os.path.join(out, "parquet", "part-00000.parquet"))
    with open(os.path.join(out, "influxdb", "part-00000.txt"), "w") as f:
        for i in range(n):
            esc = lambda s: str(s).replace(" ", "\\ ")  # noqa: E731
            tags = ",".join(["db=greenbutton"] + [
                f"{k}={esc(want[c][i])}" for k, c in [
                    ("accumulation_behavior", "accumulation_behaviour"),
                    ("commodity", "commodity"), ("currency", "currency"),
                    ("data_qualifier", "data_qualifier"),
                    ("flow_direction", "flow_direction"), ("kind", "kind"),
                    ("phase", "phase"), ("uom", "uom")]])
            fields_ = (f"quality={esc(want['quality'][i])},"
                       f"value={check.shortest(float(want['value'][i]))},"
                       f"tou={want['tou'][i]},time_period_duration_seconds="
                       f"{want['time_period_duration_seconds'][i]}")
            if has_cost:
                fields_ += f",cost={check.shortest(float(want['cost'][i]))}"
            f.write(f"{check.measurement(want['title'][i])},{tags} {fields_} "
                    f"{want['time_period_start_unix'][i] * 10**9}\n")


class CheckerSelfTest(unittest.TestCase):
    """Each planted corruption must be rejected; clean outputs must pass."""

    def setUp(self):
        self.feeds = gen.bulk_feeds(random.Random(3), n_feeds=4,
                                    n_per_meter=30)
        self.want = check.expected_table(self.feeds)
        self.out = scratch()
        self.addCleanup(shutil.rmtree, self.out)

    def problems(self, want=None, nullable=()):
        shutil.rmtree(self.out)
        engine_like_outputs(self.out, self.want if want is None else want,
                            True, nullable)
        return check.check_bulk(self.out, self.feeds, True,
                                ["csv", "parquet", "influxdb"])[0]

    def planted(self, **changes):
        w = {c: v.copy() for c, v in self.want.items()}
        for c, (i, v) in changes.items():
            w[c][i] = v
        return w

    def test_clean_outputs_pass(self):
        self.assertEqual(self.problems(), [])

    def test_dropped_row(self):
        w = {c: np.delete(v, 5) for c, v in self.want.items()}
        self.assertTrue(any("rows" in p for p in self.problems(w)))

    def test_value_off_by_one_ulp(self):
        v = self.want["value"][7]
        w = self.planted(value=(7, np.nextafter(v, np.float32(np.inf))))
        self.assertTrue(any("rows differ" in p for p in self.problems(w)))

    def test_row_from_skipped_file(self):
        name, _, rows, skip = next(f for f in self.feeds if f[3])
        leaked = check.expected_table([(name, None, rows[:1], False)])
        w = {c: np.concatenate([self.want[c], leaked[c]]) for c in self.want}
        self.assertTrue(any("unexpected" in p for p in self.problems(w)))

    def test_nullable_parquet_column(self):
        self.assertIn("parquet: column cost is not REQUIRED",
                      self.problems(nullable=("cost",)))

    def test_forgotten_id_returned(self):
        g = np.random.default_rng(1)
        vecs = g.normal(size=(50, 8)).astype(np.float32)
        queries = g.normal(size=(3, 8)).astype(np.float32)
        qids = np.array([1000, 1001, 1002])
        live = np.arange(40)            # ids 40..49 were forgotten
        truth, sims = check.exact_topk(queries, live, vecs[live], 5)

        def serves(planted):
            rows = []
            for qi, q in enumerate(qids):
                for r, nid in enumerate(truth[qi]):
                    rows.append((int(q), r + 1, int(nid),
                                 float(sims[qi, nid])))
            if planted:
                rows[0] = (rows[0][0], 1, 45, rows[0][3])
            return {0: rows}
        vectors = dict(enumerate(vecs))
        ok, _ = check.check_ann(serves(False), lambda s: live, vectors,
                                queries, qids, 5, list(live), list(live),
                                list(live))
        self.assertEqual(ok, [])
        bad, _ = check.check_ann(serves(True), lambda s: live, vectors,
                                 queries, qids, 5, list(live), list(live),
                                 list(live))
        self.assertTrue(any("not live" in p for p in bad))


if __name__ == "__main__":
    unittest.main()
