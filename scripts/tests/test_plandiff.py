"""Tests of scripts/plandiff.py's plan normalization and verdicts.

    python3 -m unittest discover -s scripts/tests
"""
import contextlib
import io
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import plandiff  # noqa: E402

SCAN = ("(3) Scan ExistingRDD\nArguments: [node#12L, rank_e9#13L], "
        "MapPartitionsRDD[{rdd}] at localCheckpoint at {site}, ExistingRDD, "
        "UnknownPartitioning(0)\n")

LAMBDAS = ("(5) Project\nOutput: [aggregate(v#3, 0, lambdafunction((lambda {x}#40L + "
           "lambda {y}#41L), lambda {x}#40L, lambda {y}#41L, false)) AS s#7]\n"
           "(6) Project\nOutput: [transform(w#4, lambdafunction((lambda {z}#42L * 2), "
           "lambda {z}#42L, false)) AS t#8]\n")


def verdict(old_plan, new_plan):
    """The one-line summary of plandiff over one query dumped twice."""
    with tempfile.TemporaryDirectory() as old, tempfile.TemporaryDirectory() as new:
        for d, text in ((old, old_plan), (new, new_plan)):
            with open(os.path.join(d, "q_p.txt"), "w", encoding="utf-8") as f:
                f.write(text)
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = plandiff.main([old, new])
        return out.getvalue().splitlines()[0].split()[0], code


class CheckpointCallSiteTest(unittest.TestCase):
    def test_checkpoint_moved_to_another_file_reads_same(self):
        old = SCAN.format(rdd=179, site="Analytics.scala:1282")
        new = SCAN.format(rdd=31, site="LocalCheckpoints.scala:140")
        self.assertEqual(verdict(old, new), ("same", 0))

    def test_reliable_checkpoint_site_gets_the_placeholder_too(self):
        line = "MapPartitionsRDD[9] at checkpoint at Dedup.scala:77"
        self.assertEqual(plandiff.normalize(line),
                         ["MapPartitionsRDD[N] at checkpoint at <src>:N"])

    def test_other_call_sites_keep_their_file(self):
        line = "ParallelCollectionRDD[2] at parallelize at Tables.scala:91"
        self.assertEqual(plandiff.normalize(line),
                         ["ParallelCollectionRDD[N] at parallelize at Tables.scala:N"])


class LambdaRenumberTest(unittest.TestCase):
    def test_names_from_another_counter_value_read_same(self):
        old = LAMBDAS.format(x="x_339", y="y_340", z="x_341")
        new = LAMBDAS.format(x="x_12", y="y_13", z="x_14")
        self.assertEqual(verdict(old, new), ("same", 0))

    def test_renumbered_by_first_appearance_keeping_the_letter(self):
        text = "lambda y_9, lambda x_5, lambda y_9, lambda x_70"
        self.assertEqual(plandiff.renumber_lambdas(text),
                         "lambda y_1, lambda x_2, lambda y_1, lambda x_3")

    def test_each_plan_is_renumbered_on_its_own(self):
        self.assertEqual(plandiff.renumber_lambdas("lambda x_500"), "lambda x_1")
        self.assertEqual(plandiff.renumber_lambdas("lambda x_7"), "lambda x_1")

    def test_names_outside_a_lambda_are_kept(self):
        self.assertEqual(plandiff.renumber_lambdas("x_5#1L, lambda x_5"), "x_5#1L, lambda x_1")

    def test_a_changed_expression_still_reads_diff(self):
        old = "Output: [transform(v#3, lambdafunction((lambda x_1#9L + 1), lambda x_1#9L, false))]"
        new = "Output: [transform(v#3, lambdafunction((lambda x_1#9L + 2), lambda x_1#9L, false))]"
        self.assertEqual(verdict(old, new), ("diff", 1))

    def test_swapped_lambda_arguments_still_read_diff(self):
        old = "lambdafunction((lambda x_4#1L - lambda y_5#2L), lambda x_4#1L, lambda y_5#2L)"
        new = "lambdafunction((lambda y_5#2L - lambda x_4#1L), lambda x_4#1L, lambda y_5#2L)"
        self.assertEqual(verdict(old, new), ("diff", 1))


if __name__ == "__main__":
    unittest.main()
