"""Unit tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class UnionLengthTest(unittest.TestCase):
    def test_disjoint_intervals_add(self):
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)

    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (3, 5)]), 6)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 2), (2, 3)]), 3)

    def test_clipped_to_window(self):
        # an execution that started before the pass counts only inside it
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)

    def test_empty_inverted_and_outside_intervals_count_zero(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(3, 3), (5, 4)]), 0)
        self.assertEqual(metrics.union_length([(20, 30)], 0, 10), 0)

    def test_order_does_not_matter(self):
        ivs = [(random.randint(0, 100), 0) for _ in range(50)]
        ivs = [(s, s + random.randint(0, 20)) for s, _ in ivs]
        expected = len({t for s, e in ivs for t in range(s, e)})
        for _ in range(5):
            random.shuffle(ivs)
            self.assertEqual(metrics.union_length(ivs), expected)

    def test_gap_is_wall_minus_covered(self):
        # pass [0, 10] s; executions cover [1, 3] and [2, 6]: 5 s covered
        covered = metrics.union_length([(1, 3), (2, 6)], 0, 10)
        self.assertEqual(10 - covered, 5)


class TailTest(unittest.TestCase):
    def test_small_samples_fall_back_to_max(self):
        for n in (1, 2, 5, 19):
            values = list(range(1, n + 1))
            self.assertEqual(metrics.tail(values), (100.0, n, n))

    def test_twenty_samples_read_the_median(self):
        p, value, n = metrics.tail(range(1, 21))
        self.assertEqual((p, value, n), (50.0, 10, 20))

    def test_ten_samples_beyond_the_chosen_percentile(self):
        for n, want in ((40, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0),
                        (10000, 99.9), (99, 75.0)):
            values = list(range(n))
            p, value, _ = metrics.tail(values)
            self.assertEqual(p, want, n)
            self.assertGreaterEqual(sum(v > value for v in values), 10)

    def test_order_independent(self):
        values = [random.random() for _ in range(120)]
        shuffled = random.sample(values, len(values))
        self.assertEqual(metrics.tail(values), metrics.tail(shuffled))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class ModuleOfTest(unittest.TestCase):
    def site(self, *frames):
        return "\n".join(("org.apache.spark.sql.Dataset.count(Dataset.scala:1)",)
                         + frames)

    def test_innermost_graft_frame_wins(self):
        details = self.site(
            "graft.graph.ConnectedComponents$.run(ConnectedComponents.scala:88)",
            "graft.linkage.Linkage$.linkIds(Linkage.scala:301)",
            "graft.Etl$.linkageCapstone(Etl.scala:655)")
        self.assertEqual(metrics.module_of(details), "graph")

    def test_package_modules(self):
        for pkg in metrics.MODULES:
            details = self.site(f"graft.{pkg}.Thing$.f(Thing.scala:1)")
            self.assertEqual(metrics.module_of(details), pkg)

    def test_top_level_objects(self):
        self.assertEqual(metrics.module_of(self.site(
            "graft.Etl$.capstone(Etl.scala:740)")), "Etl")
        self.assertEqual(metrics.module_of(self.site(
            "graft.SparkEntry$.q45(SparkEntry.scala:9)")), "SparkEntry")
        self.assertEqual(metrics.module_of(self.site(
            "graft.Tables$.load(Tables.scala:30)")), "sources")
        self.assertEqual(metrics.module_of(self.site(
            "graft.Etl$$anonfun$loadRowCountGoldens$4.apply(Etl.scala:1)")),
            "Etl")

    def test_harness_and_look_alike_frames(self):
        self.assertEqual(metrics.module_of(self.site(
            "perfbench.Main$.runPass(Main.scala:140)")), "harness")
        self.assertEqual(metrics.module_of(self.site(
            "graftx.Foo$.f(Foo.scala:1)",
            "org.graft.Bar.g(Bar.scala:1)")), "harness")
        self.assertEqual(metrics.module_of(""), "harness")
        self.assertEqual(metrics.module_of(None), "harness")

    def test_skips_frames_before_the_first_graft_frame(self):
        details = self.site(
            "scala.collection.immutable.List.foreach(List.scala:1)",
            "perfbench.Main$.runPass(Main.scala:140)",
            "graft.checks.CheckRunner$.run(CheckRunner.scala:50)")
        self.assertEqual(metrics.module_of(details), "checks")


class DigestMatchTest(unittest.TestCase):
    PINNED = "3600:-168|-55|value=1234.5,score=NaN"

    def test_identical_digests_match(self):
        self.assertTrue(metrics.digests_match(self.PINNED, self.PINNED))
        self.assertTrue(metrics.digests_match("6:12||", "6:12||"))

    def test_same_rows_summed_in_another_order_match(self):
        # equal row hash: only the float sums' addition order differs
        got = "3600:-168|-55|value=1234.5000001,score=NaN"
        self.assertTrue(metrics.digests_match(self.PINNED, got))

    def test_changed_float_values_fail_unless_float_iterative(self):
        # a float value changed (row hash moved) but the sums agree
        got = "3600:-999|-55|value=1234.5000001,score=NaN"
        self.assertFalse(metrics.digests_match(self.PINNED, got))
        self.assertTrue(metrics.digests_match(self.PINNED, got,
                                              float_iterative=True))

    def test_float_sums_beyond_tolerance_fail(self):
        for head in ("3600:-168", "3600:-999"):
            got = f"{head}|-55|value=1234.6,score=NaN"
            self.assertFalse(metrics.digests_match(self.PINNED, got))
            self.assertFalse(metrics.digests_match(self.PINNED, got,
                                                   float_iterative=True))

    def test_key_hash_and_row_count_are_exact(self):
        for iterative in (False, True):
            self.assertFalse(metrics.digests_match(
                self.PINNED, "3600:-168|-56|value=1234.5,score=NaN",
                float_iterative=iterative))
            self.assertFalse(metrics.digests_match(
                self.PINNED, "3599:-168|-55|value=1234.5,score=NaN",
                float_iterative=iterative))

    def test_missing_or_malformed_digests_fail(self):
        self.assertFalse(metrics.digests_match(self.PINNED, None))
        self.assertFalse(metrics.digests_match(None, self.PINNED))
        self.assertFalse(metrics.digests_match(self.PINNED, "3600:-168"))
        self.assertFalse(metrics.digests_match(
            self.PINNED, "3600:-168|-55|value=1234.5"))
        self.assertFalse(metrics.digests_match(
            self.PINNED, "3600:-168|-55|value=null,score=NaN"))


class AttributeTest(unittest.TestCase):
    LANES = [{"start_ms": 100, "end_ms": 200, "module": "operators"},
             {"start_ms": 200, "end_ms": 300, "module": "similarity"}]

    def execution(self, start, *frames):
        return {"start_ms": start, "details": "\n".join(frames)}

    def test_harness_execution_goes_to_its_lanes_module(self):
        x = self.execution(150, "perfbench.Main$.runPass(Main.scala:140)")
        self.assertEqual(metrics.attribute(x, self.LANES), "operators")
        x = self.execution(250, "perfbench.Main$.runPass(Main.scala:140)")
        self.assertEqual(metrics.attribute(x, self.LANES), "similarity")

    def test_graft_call_site_wins_over_the_lane(self):
        x = self.execution(
            150, "graft.graph.ConnectedComponents$.run(CC.scala:88)",
            "perfbench.Main$.runPass(Main.scala:140)")
        self.assertEqual(metrics.attribute(x, self.LANES), "graph")

    def test_harness_execution_outside_every_lane(self):
        x = self.execution(350, "perfbench.Main$.runPass(Main.scala:140)")
        self.assertEqual(metrics.attribute(x, self.LANES), "harness")
        self.assertEqual(metrics.attribute(x, []), "harness")

    def test_pass_layers_credit_spine_writes(self):
        spine = [{"name": "q19", "module": "operators"},
                 {"name": "q42", "module": "similarity"}]
        harness = "perfbench.Main$.runPass(Main.scala:140)"
        trace = {
            "executions": [
                {"id": 1, "root": 1, "pass": 1, "start_ms": 1000,
                 "end_ms": 3000, "details": harness},
                {"id": 2, "root": 2, "pass": 1, "start_ms": 4000,
                 "end_ms": 5000, "details": harness}],
            "stages": [], "jobs": [], "actions": [],
            "spans": [
                {"name": "q19", "pass": 1, "start_ms": 900, "end_ms": 3100},
                {"name": "q42", "pass": 1, "start_ms": 3100, "end_ms": 5100},
                {"name": "q19", "pass": 2, "start_ms": 3500, "end_ms": 6000}]}
        pass_rec = {"id": 1, "start_ms": 900, "end_ms": 5100, "wall_s": 4.2,
                    "cpu_s": 1.0, "codegen_compiles": 0, "jit_s": 0.0,
                    "gc_s": 0.0, "heap_after_gc_peak_mb": 1.0,
                    "core_s": 0.0, "checks_s": 0.0,
                    "lanes": {"q19": 2.2, "q42": 2.0}}
        out = metrics.pass_layers(trace, pass_rec, 2, spine)
        self.assertEqual((out["operators.actions"], out["operators.exec_s"]),
                         (1, 2.0))
        self.assertEqual((out["similarity.actions"],
                          out["similarity.exec_s"]), (1, 1.0))
        self.assertEqual(out["lane.q42_s"], 2.0)
        self.assertAlmostEqual(out["driver.gap_s"], 1.2)


class UnrepeatedTest(unittest.TestCase):
    def test_passes_differing_from_the_first(self):
        per_pass = [{"a": 5, "b": 24}, {"a": 5, "b": 24}, {"a": 6, "b": 24}]
        self.assertEqual(metrics.unrepeated(per_pass, ("a", "b")), [2])
        self.assertEqual(metrics.unrepeated(per_pass[:2], ("a", "b")), [])
        self.assertEqual(metrics.unrepeated([], ("a",)), [])


class SkewTest(unittest.TestCase):
    def test_heaviest_stage_is_read(self):
        stages = [{"durations_ms": [1, 100]},           # light, very skewed
                  {"durations_ms": [100, 100, 100, 300]}]
        self.assertEqual(metrics.skew(stages), 3.0)

    def test_single_task_stages_are_ignored(self):
        self.assertEqual(metrics.skew([{"durations_ms": [500]}]), 1.0)


if __name__ == "__main__":
    unittest.main()
