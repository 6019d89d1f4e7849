"""Self-tests for plan_diff.py.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import os
import tempfile
import unittest

import plan_diff

# One gate's plan as two PlanDump runs of the same code print it: every
# run-local id differs, the plan does not.
RUN_A = """== Physical Plan ==
AdaptiveSparkPlan (3)
+- Exchange (2)
   +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [id#12L, cluster#13L]
Arguments: [id#12L, cluster#13L], MapPartitionsRDD[78] at localCheckpoint at Dedup.scala:567, ExistingRDD, UnknownPartitioning(0)

(2) Exchange
Input [2]: [id#12L, f#14]
Arguments: hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=33]
Zipped: ZippedPartitionsRDD2[41] at zipPartitions at OpUtil.scala:88
Fn: graft.gates.FrameGates$$$Lambda$3057/0x00007ffafcd80208@516370c1
Udf: centroid_sims(__v#3991, [[D@6e77f4e7, cosine)
Location: InMemoryFileIndex [file:/tmp/graft_bkt11660510998249469379/orders]
"""

RUN_B = """== Physical Plan ==
AdaptiveSparkPlan (3)
+- Exchange (2)
   +- Scan ExistingRDD (1)

(1) Scan ExistingRDD
Output [2]: [id#912L, cluster#913L]
Arguments: [id#912L, cluster#913L], MapPartitionsRDD[1078] at localCheckpoint at Dedup.scala:601, ExistingRDD, UnknownPartitioning(0)

(2) Exchange
Input [2]: [id#912L, f#914]
Arguments: hashpartitioning(id#912L, 4), ENSURE_REQUIREMENTS, [plan_id=9082]
Zipped: ZippedPartitionsRDD2[7] at zipPartitions at OpUtil.scala:90
Fn: graft.gates.FrameGates$$$Lambda$6704/0x00007ffafd716aa0@7124be8c
Udf: centroid_sims(__v#17, [[D@5b0d1a2, cosine)
Location: InMemoryFileIndex [file:/tmp/graft_bkt802217763405514120/orders]
"""


class PlanDiffTest(unittest.TestCase):
    def dumps(self, a, b):
        root = tempfile.mkdtemp()
        dirs = []
        for name, plans in (("a", a), ("b", b)):
            d = os.path.join(root, name)
            os.mkdir(d)
            for gate, text in plans.items():
                with open(os.path.join(d, gate + ".txt"), "w") as f:
                    f.write(text)
            dirs.append(d)
        return dirs

    def test_plans_differing_only_in_run_local_ids_compare_equal(self):
        a, b = self.dumps({"g1": RUN_A, "g2": "(1) Range\n"},
                          {"g1": RUN_B, "g2": "(1) Range\n"})
        self.assertEqual(plan_diff.compare(a, b), [])
        self.assertEqual(plan_diff.main(["plan_diff.py", a, b]), 0)

    def test_changed_operator_is_reported(self):
        changed = RUN_B.replace("hashpartitioning(id#912L, 4)",
                                "rangepartitioning(id#912L ASC NULLS FIRST, 4)")
        a, b = self.dumps({"g1": RUN_A, "g2": "(1) Range\n"},
                          {"g1": changed, "g2": "(1) Range\n"})
        differing = plan_diff.compare(a, b)
        self.assertEqual([(g, r) for g, r, _ in differing],
                         [("g1", "plan differs")])
        self.assertTrue(any("rangepartitioning" in line
                            for line in differing[0][2]))
        self.assertEqual(plan_diff.main(["plan_diff.py", a, b]), 1)

    def test_gate_missing_from_one_dump_is_reported(self):
        a, b = self.dumps({"g1": RUN_A, "g2": "(1) Range\n"},
                          {"g1": RUN_B})
        self.assertEqual([g for g, _, _ in plan_diff.compare(a, b)], ["g2"])


if __name__ == "__main__":
    unittest.main()
