"""The benchmark's own tests: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import run  # noqa: E402
import steady  # noqa: E402
import workloads  # noqa: E402

with open(run.EXPECTED) as fh:
    EXPECTED = json.load(fh)
COSTS = {q: e["ref_s"] for q, e in EXPECTED["gates"].items()}


class WorkloadTest(unittest.TestCase):
    def test_gate_mix_same_seed_same_list_and_order(self):
        self.assertEqual(workloads.passes("gate_mix", 7, COSTS),
                         workloads.passes("gate_mix", 7, COSTS))

    def test_gate_mix_other_seed_changes_list(self):
        a = workloads.passes("gate_mix", 7, COSTS)
        b = workloads.passes("gate_mix", 8, COSTS)
        self.assertNotEqual(a[0], b[0])
        self.assertNotEqual(set(a[0]), set(b[0]))

    def test_gate_mix_pass_is_one_gate_per_stratum_without_repeats(self):
        ps = workloads.passes("gate_mix", 3, COSTS)
        loops = workloads.loop_set(COSTS)
        self.assertTrue(all(len(p) == workloads.STRATA + len(loops) for p in ps))
        flat = [q for p in ps for q in p if q not in loops]
        self.assertEqual(len(flat), len(set(flat)))
        eligible = set(workloads.gate_mix_eligible(COSTS))
        self.assertTrue(set(flat) <= eligible)
        self.assertFalse(eligible & set(workloads.LOOPS + workloads.STREAMING))

    def test_gate_mix_runs_the_same_loop_gates_in_every_pass_for_every_seed(self):
        loops = workloads.loop_set(COSTS)
        self.assertGreaterEqual(len(loops), 3)
        self.assertTrue(all(COSTS[q] <= workloads.LOOP_CAP_S for q in loops))
        for seed in (1, 2, 99):
            for p in workloads.passes("gate_mix", seed, COSTS):
                self.assertEqual(sorted(q for q in p if q in workloads.LOOPS), sorted(loops))

    def test_gate_mix_first_pass_costs_about_the_same_for_every_seed(self):
        totals = [sum(COSTS[q] for q in workloads.passes("gate_mix", seed, COSTS)[0])
                  for seed in range(1, 41)]
        self.assertLess(steady.spread(totals), 0.1, totals)

    def test_curate_does_not_depend_on_seed(self):
        self.assertEqual(workloads.passes("curate", 1, COSTS), workloads.passes("curate", 99, COSTS))

    def test_gate_mix_leaves_out_gates_above_the_cost_cap(self):
        eligible = workloads.gate_mix_eligible(COSTS)
        self.assertTrue(all(COSTS[q] <= workloads.COST_CAP_S for q in eligible))
        self.assertGreater(len(eligible), 10 * workloads.STRATA)

    def test_every_gate_mix_gate_has_a_recorded_output(self):
        for q in workloads.gate_mix_eligible(COSTS) + workloads.loop_set(COSTS):
            self.assertGreaterEqual(EXPECTED["gates"][q]["rows"], 0)
            self.assertEqual(len(EXPECTED["gates"][q]["fp"]), 16)

    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(1, 33))
        v, pct, beyond = run.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual((pct, beyond), (68, 10))
        self.assertEqual(run.tail([3, 1, 2]), (3, 100, 0))


class CheckTest(unittest.TestCase):
    WANT = EXPECTED["curate"]

    def chain(self, names):
        rows = dict(zip(workloads.CURATE_STAGES, self.WANT["stage_rows"]))
        return {"units": [{"name": n, "pass": 0, "rows": rows[n]} for n in names],
                "curate": [{"manifest_fp": self.WANT["manifest_fp"]}]}

    def test_curate_chain_as_recorded_passes(self):
        self.assertEqual(run.check("curate", self.chain(workloads.CURATE_STAGES), EXPECTED), [])

    def test_curate_chain_missing_or_reordered_stage_fails(self):
        stages = list(workloads.CURATE_STAGES)
        dropped = stages[:1] + stages[2:]
        swapped = stages[1:2] + stages[:1] + stages[2:]
        for names in (dropped, swapped):
            self.assertEqual(len(run.check("curate", self.chain(names), EXPECTED)), 1, names)


class SteadyTest(unittest.TestCase):
    BENCH = {"end_to_end": [
        {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
        {"name": "queries_per_s", "unit": "1/s", "better": "higher", "bound": 0.1},
        {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}]}

    def runs(self, wall2=None, spread=0.0):
        out = []
        for k in (1, 2):
            for i in range(10):
                w = (wall2 if k == 2 and wall2 else 10.0) * (1 + spread * (i % 2))
                out.append({"set": k, "workload": "w", "seed": i,
                            "metrics": {"wall_s": w, "queries_per_s": 100 / w,
                                        "setup_s": 5.0 * (1 + spread * (i % 2))}})
        return out

    def test_two_agreeing_sets_pass(self):
        _, problems = steady.evaluate(self.BENCH, self.runs())
        self.assertEqual(problems, [])

    def test_wide_spread_fails_for_every_metric(self):
        _, problems = steady.evaluate(self.BENCH, self.runs(spread=0.5))
        self.assertTrue(any("wall_s" in p and "spread" in p for p in problems))
        self.assertTrue(any("setup_s" in p and "spread" in p for p in problems))

    def test_second_set_off_by_more_than_bound_fails_either_way(self):
        for wall2 in (12.0, 8.0):
            _, problems = steady.evaluate(self.BENCH, self.runs(wall2=wall2))
            self.assertTrue(any("wall_s set 2: median" in p for p in problems), wall2)
            self.assertTrue(any("queries_per_s set 2: median" in p for p in problems), wall2)
        _, problems = steady.evaluate(self.BENCH, self.runs(wall2=10.5))
        self.assertEqual(problems, [])

if __name__ == "__main__":
    unittest.main()
