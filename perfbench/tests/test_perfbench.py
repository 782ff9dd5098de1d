"""The benchmark's own tests: input determinism, metric names and units,
and that the output checks catch a wrong value.

    python3 -m unittest discover -s perfbench/tests
"""

import copy
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import ledgergen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


def echo_records(plan):
    """JVM records that report exactly what the plan expects, as a
    correct engine would."""
    recs = []
    for p, (entries, state) in sorted(plan.items()):
        last_upload = max(i for i, e in enumerate(entries) if e["op"][0] == "upload")
        for i, want in enumerate(entries):
            r = {"type": "op", "pass": p, "index": i, "op": " ".join(want["op"]),
                 "wall_ms": 100.0 + i, "cpu_ms": 150.0 + i, "jit_ms": 20}
            if want["op"][0] == "bi":
                q = want["op"][1]
                if q == "monthly":
                    r["result"] = dict(want["dashboard"])
                elif q == "drilldown":
                    r["result"] = {k: list(v) for k, v in want["drilldown"].items()}
                    r["result"]["||"] = [sum(c for c, _ in want["drilldown"].values()),
                                         want["fact_rows"]]
                else:
                    total = sum(want["share"].values())
                    r["result"] = {k: [c, c / total] for k, c in want["share"].items()}
                r.update(build_ms=1.0, plan_ms=2.0, exec_ms=3.0, files_read=2)
            else:
                r.update(staged=want["staged"], rejected=want["rejected"],
                         appended={"fato_lancamento": want["appended"], "dim_tipo": 0},
                         ingest_ms=40.0, warehouse_ms=60.0, input_bytes=1000,
                         commits_before={"fato_lancamento": 2},
                         commits_after={"fato_lancamento": 1 if i == last_upload else 3})
            recs.append(r)
        if p >= 0:
            r = copy.deepcopy(state)
            r.update({"type": "pass", "pass": p, "wall_ms": 1.0, "cpu_ms": 1.0,
                      "instrument_ms": 0.5, "catalog_files": 3, "catalog_bytes": 5000})
            recs.append(r)
    recs.append({"type": "setup", "ms": 1234})
    recs.append({"type": "end", "peak_rss_mb": 800.0, "roots_left": 0})
    return recs


class InputsTest(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, _ = ledgergen.monthly_plan(7, 2, 50)
        b, _ = ledgergen.monthly_plan(7, 2, 50)
        c, _ = ledgergen.monthly_plan(8, 2, 50)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        fa, _ = ledgergen.backfill_plan(7, 2000, 6, 3, 1)
        fb, _ = ledgergen.backfill_plan(7, 2000, 6, 3, 1)
        fc, _ = ledgergen.backfill_plan(8, 2000, 6, 3, 1)
        self.assertEqual(fa["backfill.csv"], fb["backfill.csv"])
        self.assertNotEqual(fa["backfill.csv"], fc["backfill.csv"])

    def test_every_seed_makes_a_plan(self):
        # some seeds blank a month's first row: the plan must not read
        # the month from the rows
        for seed in range(300):
            _, plan = ledgergen.monthly_plan(seed, 2, 40)
            self.assertEqual(sorted(plan), [-1, 0, 1])

    def test_money_text_round_trips(self):
        for cents in (1, 99, 100, 123456, 250000000):
            self.assertEqual(ledgergen.cents_of(ledgergen.brl(cents)), cents)
        self.assertEqual(ledgergen.brl(123456), "1.234,56")

    def test_reupload_appends_nothing(self):
        _, plan = ledgergen.monthly_plan(3, 2, 50)
        for p in (0, 1):
            entries = plan[p][0]
            # every upload is followed by one monthlyByTipo refresh
            self.assertEqual([e["op"][0] for e in entries[1::2]], ["bi"] * 4)
            self.assertEqual([e["op"][1] for e in entries[1::2]], ["monthly"] * 4)
            ups = entries[0::2]
            self.assertEqual([e["op"][0] for e in ups], ["upload", "reupload", "upload", "upload"])
            self.assertEqual(ups[1]["appended"], 0)
            self.assertTrue(all(e["appended"] > 0 for e in ups if e["op"][0] == "upload"))

    def test_one_upload_in_three_compacts(self):
        # the catalog folds when an append brings a table to COMPACT_EVERY
        # live commits; the median of a pass's three uploads must be a
        # plain one
        _, plan = ledgergen.monthly_plan(3, 4, 50)
        live, folds = 0, []
        for p in sorted(plan):
            for e in plan[p][0]:
                if e["op"][0] == "bi" or not e["appended"]:
                    continue
                live += 1
                fold = live >= run.COMPACT_EVERY
                if p >= 0:
                    folds.append(fold)
                if fold:
                    live = 1
        self.assertEqual(folds, [False, False, True] * 4)

    def test_backfill_burst_runs_the_three_bi_queries(self):
        _, plan = ledgergen.backfill_plan(5, 3000, 12, 5, 1)
        qs = [e["op"][1] for e in plan[0][0] if e["op"][0] == "bi"]
        self.assertEqual(qs, ["monthly", "drilldown"] + ["share"] * 5)


class MetricsTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def derive(self, workload, plan, trace, spans=None):
        recs = echo_records(plan)
        return metrics.derive(workload, recs, 4, trace=trace, spans_path=spans)

    def test_every_named_metric_appears_with_its_unit(self):
        _, plan = ledgergen.monthly_plan(1, 1, 50)
        spans = os.path.join(HERE, "_spans.jsonl")
        with open(spans, "w") as f:
            f.write(json.dumps({"trace": "p0.o0", "id": 1, "parent": 0, "name": "op.upload",
                                "start_us": 0, "end_us": 100}) + "\n")
            f.write(json.dumps({"trace": "p0.o0", "id": 2, "parent": 1, "name": "ingest.run",
                                "start_us": 10, "end_us": 40}) + "\n")
        try:
            for workload in ("ledger_monthly", "ledger_backfill"):
                m0, _ = self.derive(workload, plan, trace=0)
                m1, _ = self.derive(workload, plan, trace=1, spans=spans)
                for trace, got, named in ((0, m0, "end_to_end"), (1, m1, "per_layer")):
                    want = {m["name"]: m["unit"] for m in self.spec[named]}
                    self.assertEqual(set(got), set(want), f"{workload} trace {trace}")
                    for name, unit in want.items():
                        self.assertEqual(got[name]["unit"], unit, name)
                        self.assertIsInstance(got[name]["value"], (int, float), name)
            self.assertAlmostEqual(m1["self_ms.op.upload"]["value"], 0.07)
        finally:
            os.remove(spans)

    def test_the_median_upload_leaves_out_the_folding_one(self):
        _, plan = ledgergen.monthly_plan(1, 1, 50)
        recs = echo_records(plan)
        ups = [r for r in recs if r["type"] == "op" and r["pass"] == 0
               and r["op"].startswith("upload ")]
        for r, wall in zip(ups, (4000.0, 6000.0, 9000.0)):
            r.update(wall_ms=wall, commits_after={"fato_lancamento": 3})
        ups[1]["commits_after"] = {"fato_lancamento": 1}
        m, cond = metrics.derive("ledger_monthly", recs, 4, trace=0)
        self.assertAlmostEqual(m["upload_s_p50"]["value"], 6.5)
        self.assertEqual(cond["folding_upload_s"], [6.0])

    def test_spec_lists_what_the_benchmark_prints(self):
        self.assertEqual([m["name"] for m in self.spec["end_to_end"]], list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in self.spec["per_layer"]], list(metrics.PER_LAYER))


class ChecksTest(unittest.TestCase):
    def test_correct_records_pass(self):
        for plan in (ledgergen.monthly_plan(5, 2, 60)[1],
                     ledgergen.backfill_plan(5, 3000, 6, 3, 1)[1]):
            failures, attempted = checks.check(echo_records(plan), plan)
            self.assertEqual(failures, [])
            self.assertGreater(attempted, 1)

    def test_a_wrong_expected_value_fails(self):
        _, plan = ledgergen.monthly_plan(5, 1, 60)
        recs = echo_records(plan)
        wrong = [
            lambda p: p[0][0][0].update(staged=p[0][0][0]["staged"] + 1),
            lambda p: p[0][0][0].update(rejected=p[0][0][0]["rejected"] + 1),
            lambda p: next(e for e in p[0][0] if e["op"][0] == "reupload").update(appended=1),
            lambda p: p[0][0][1]["dashboard"].update(
                {k: v + 1 for k, v in list(p[0][0][1]["dashboard"].items())[:1]}),
            lambda p: p[0][1].update(fact_rows=p[0][1]["fact_rows"] - 1),
            lambda p: p[0][1]["dims"].update(dim_tipo=99),
            lambda p: p[0][1]["month_cents"].update(
                {k: v - 1 for k, v in list(p[0][1]["month_cents"].items())[:1]}),
        ]
        for i, mutate in enumerate(wrong):
            bad = copy.deepcopy(plan)
            mutate(bad)
            failures, _ = checks.check(recs, bad)
            self.assertEqual(len(failures), 1, f"mutation {i}: {failures}")

    def test_backfill_query_checks_catch_wrong_cents(self):
        _, plan = ledgergen.backfill_plan(5, 3000, 6, 3, 1)
        recs = echo_records(plan)
        for kind in ("drilldown", "share"):
            bad = copy.deepcopy(plan)
            entry = next(e for e in bad[0][0] if e["op"][:2] == ["bi", kind])
            table = entry[kind]
            k = next(iter(table))
            table[k] = [table[k][0] + 1, table[k][1]] if kind == "drilldown" else table[k] + 1
            failures, _ = checks.check(recs, bad)
            self.assertTrue(failures, kind)

    def test_leftover_catalog_root_fails(self):
        _, plan = ledgergen.monthly_plan(5, 1, 60)
        recs = echo_records(plan)
        recs[-1]["roots_left"] = 1
        failures, _ = checks.check(recs, plan)
        self.assertEqual(failures, ["catalog roots left behind"])


if __name__ == "__main__":
    unittest.main()
