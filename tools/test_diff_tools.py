"""Tests for the two refactor-identity tools, plan_diff.py and
oracle_diff.py, the plan-shape gate plan_guard.py, the clone report
oracle_clones.py (its oracle and code scans) and the Bench metric-line
decoder the bench tools share: what each treats as equal (or within
budget), what it reports, and its exit code.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import contextlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest
from unittest import mock

import bench_guard
import oracle_clones
import oracle_diff
import plan_diff

TOOLS = os.path.dirname(os.path.abspath(__file__))


def write_files(test, contents):
    """Write each (name, text) pair into a fresh temp dir removed after
    `test`; return the paths in order."""
    d = tempfile.mkdtemp()
    test.addCleanup(shutil.rmtree, d)
    paths = []
    for name, text in contents:
        paths.append(os.path.join(d, name))
        with open(paths[-1], "w") as f:
            f.write(text)
    return paths


def run_tool(script, *args):
    return subprocess.run(
        [sys.executable, os.path.join(TOOLS, script), *args],
        capture_output=True, text=True)


class PlanDiffNormaliseTest(unittest.TestCase):
    def same(self, a, b):
        self.assertEqual(plan_diff.normalise(a), plan_diff.normalise(b))

    def test_expression_ids(self):
        self.same("Project [vec_id#12L, key#13L]",
                  "Project [vec_id#34L, key#35L]")

    def test_lambda_variables(self):
        self.same("transform(bf#1, lambdafunction(pmod(x_3, 2), x_3))",
                  "transform(bf#1, lambdafunction(pmod(x_9, 2), x_9))")

    def test_object_hashes(self):
        self.same("MinKAgg@3c62183b(key#5L)", "MinKAgg@7f00a1d2(key#5L)")

    def test_source_positions(self):
        self.same("MapPartitionsRDD[178] at localCheckpoint at Foo.scala:662",
                  "MapPartitionsRDD[201] at localCheckpoint at Foo.scala:12")

    def test_plan_content_still_differs(self):
        for a, b in [
                ("pmod(key#1L, 1099511627776)", "pmod(key#1L, 8589934592)"),
                ("Exchange hashpartitioning(qid#1L, 200)",
                 "Exchange rangepartitioning(qid#1L, 200)"),
                ("x_3 + 1", "y_3 + 1")]:
            self.assertNotEqual(plan_diff.normalise(a),
                                plan_diff.normalise(b))


class PlanDiffExitTest(unittest.TestCase):
    def dumps(self, a, b):
        return write_files(self, [("a.txt", a), ("b.txt", b)])

    def test_identical_after_normalising(self):
        pa, pb = self.dumps(
            "\n## q1\n\n```\nProject [a#1L, b#2L]\n```\n",
            "\n## q1\n\n```\nProject [a#7L, b#8L]\n```\n")
        r = run_tool("plan_diff.py", pa, pb)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("plan_diff: 1/1 identical", r.stdout)

    def test_difference_and_missing_query(self):
        pa, pb = self.dumps(
            "\n## q1\n\nProject [a#1L]\n\n## q2\n\nFilter (a#1L > 1)\n",
            "\n## q1\n\nProject [a#1L]\n\n## q2\n\nFilter (a#1L > 2)\n")
        r = run_tool("plan_diff.py", pa, pb)
        self.assertEqual(r.returncode, 1)
        self.assertIn("DIFF q2", r.stdout)
        self.assertNotIn("DIFF q1", r.stdout)
        self.assertIn("plan_diff: 1/2 identical", r.stdout)
        r = run_tool("plan_diff.py", pa, pb, "q1")
        self.assertEqual(r.returncode, 0, r.stdout)
        r = run_tool("plan_diff.py", pa, pb, "q1", "q3")
        self.assertEqual(r.returncode, 1)
        self.assertIn("MISSING q3", r.stdout)


class OracleDiffTokensTest(unittest.TestCase):
    SQL = ("SELECT CAST(round(x * 10000) AS BIGINT) AS rq\n"
           "FROM t WHERE s = 'a  b'\nORDER BY rq")

    def test_whitespace_only_changes_are_equal(self):
        relaid = ("SELECT CAST( round(x*10000) AS BIGINT )   AS rq "
                  "FROM t\n      WHERE s='a  b' ORDER BY\n  rq")
        self.assertEqual(oracle_diff.tokens(self.SQL),
                         oracle_diff.tokens(relaid))

    def test_space_inside_a_literal_is_data(self):
        a = oracle_diff.tokens(self.SQL)
        b = oracle_diff.tokens(self.SQL.replace("'a  b'", "'a b'"))
        self.assertNotEqual(a, b)
        self.assertEqual(a[oracle_diff.first_diff(a, b)], "'a  b'")

    def test_changed_literal_is_found_at_its_index(self):
        a = oracle_diff.tokens(self.SQL)
        b = oracle_diff.tokens(self.SQL.replace("10000", "1000"))
        i = oracle_diff.first_diff(a, b)
        self.assertEqual(i, a.index("10000"))
        self.assertEqual((a[i], b[i]), ("10000", "1000"))

    def test_prefix_reports_shorter_length(self):
        a = oracle_diff.tokens("SELECT 1")
        b = oracle_diff.tokens("SELECT 1 AS x")
        self.assertEqual(oracle_diff.first_diff(a, b), 2)
        self.assertEqual(oracle_diff.first_diff(a, a), 2)


class OracleDiffExitTest(unittest.TestCase):
    def files(self, a, b):
        return write_files(self, [("a.json", json.dumps(a)),
                                  ("b.json", json.dumps(b))])

    def test_token_identical(self):
        pa, pb = self.files({"q1": "SELECT 1 AS x", "q2": "SELECT 2"},
                            {"q1": "SELECT\n  1  AS x", "q2": "SELECT 2"})
        r = run_tool("oracle_diff.py", pa, pb)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("2/2 names token-identical", r.stdout)

    def test_changed_literal(self):
        pa, pb = self.files({"q1": "SELECT round(x, 4) + 0 AS y"},
                            {"q1": "SELECT round(x, 3) + 0 AS y"})
        r = run_tool("oracle_diff.py", pa, pb)
        self.assertEqual(r.returncode, 1)
        self.assertIn("DIFF q1: first differing token #5", r.stdout)
        self.assertIn("[[4]]", r.stdout)
        self.assertIn("[[3]]", r.stdout)

    def test_missing_and_extra_names(self):
        pa, pb = self.files({"q1": "SELECT 1", "q2": "SELECT 2"},
                            {"q1": "SELECT 1", "q3": "SELECT 2"})
        r = run_tool("oracle_diff.py", pa, pb)
        self.assertEqual(r.returncode, 1)
        self.assertIn("MISSING q2", r.stdout)
        self.assertIn("EXTRA q3", r.stdout)


class PlanGuardTest(unittest.TestCase):
    def guard(self, fresh, budget, *extra):
        """Run plan_guard.py on `fresh` against the budget file `budget`."""
        pf, pb = write_files(self, [("fresh.json", json.dumps(fresh)),
                                    ("budget.json", json.dumps(budget))])
        return run_tool("plan_guard.py", pf, "--budget", pb, *extra)

    def test_exceedance_fails(self):
        r = self.guard({"q1": {"exchange": 3, "sort": 1},
                        "q2": {"exchange": 1}},
                       {"q1": {"exchange": 2, "sort": 1},
                        "q2": {"exchange": 1}})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: exchange 3 > budget 2", r.stdout)
        self.assertNotIn("FAIL q2", r.stdout)
        self.assertIn("plan guard FAIL: 1/2 within budget", r.stdout)

    def test_absent_kind_counts_as_zero(self):
        r = self.guard({"q1": {"window_limit": 2}}, {"q1": {}})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: window_limit 2 > budget 0", r.stdout)

    def test_below_budget_is_a_note(self):
        r = self.guard({"q1": {"exchange": 1}},
                       {"q1": {"exchange": 2, "window_limit": 2}})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("FAIL", r.stdout)
        self.assertIn("note: 2 counts below budget across 1 queries",
                      r.stdout)
        self.assertIn("q1:exchange 1<2", r.stdout)
        self.assertIn("q1:window_limit 0<2", r.stdout)
        self.assertIn("plan guard PASS: 1/1 within budget", r.stdout)

    def test_error_entry_fails(self):
        r = self.guard({"q1": {"ERROR": 1}}, {"q1": {"exchange": 2}})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("FAIL q1: query errored during plan construction",
                      r.stdout)

    def test_missing_query_fails_and_new_query_is_a_note(self):
        r = self.guard({"q1": {"scan": 1}, "q3": {"scan": 1}},
                       {"q1": {"scan": 1}, "q2": {"scan": 1}})
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn("MISSING q2", r.stdout)
        self.assertIn("note: 1 queries lack a budget: q3", r.stdout)

    def test_informational_kinds_are_ignored(self):
        r = self.guard({"q1": {"scan": 1, "wscg": 9, "reused_exchange": 3}},
                       {"q1": {"scan": 1, "wscg": 2}})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("note", r.stdout)
        self.assertIn("plan guard PASS: 1/1 within budget", r.stdout)
        r = self.guard({"q1": {"scan": 1}},
                       {"q1": {"scan": 1, "wscg": 5, "reused_exchange": 1}})
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertNotIn("note", r.stdout)

    def test_budget_flag_picks_the_file(self):
        fresh = {"q1": {"exchange": 3}}
        pf, tight, loose = write_files(self, [
            ("fresh.json", json.dumps(fresh)),
            ("tight.json", json.dumps({"q1": {"exchange": 2}})),
            ("loose.json", json.dumps({"q1": {"exchange": 3}}))])
        self.assertEqual(
            run_tool("plan_guard.py", pf, "--budget", tight).returncode, 1)
        self.assertEqual(
            run_tool("plan_guard.py", pf, "--budget", loose).returncode, 0)
        # without the flag the committed sf0.001 budget is read: an
        # empty fresh file leaves every committed query MISSING
        pe, = write_files(self, [("empty.json", "{}")])
        r = run_tool("plan_guard.py", pe)
        self.assertEqual(r.returncode, 1)
        with open(os.path.join(TOOLS, "plan_budget.json")) as f:
            some = sorted(json.load(f))[0]
        self.assertIn(f"MISSING {some}", r.stdout)


class OracleClonesTest(unittest.TestCase):
    N = oracle_clones.MIN_RUN

    @staticmethod
    def run_of(n, prefix="c"):
        """`n` distinct tokens: c0 c1 ... c<n-1>."""
        return " ".join(f"{prefix}{i}" for i in range(n))

    def report(self, *literals):
        """Run oracle_clones.py over one Scala file holding `literals`,
        each a query's triple-quoted oracle."""
        src = "\n".join(f'  Q(\n    "q{i}_x",\n    {lit}\n  ) {{ f }},'
                        for i, lit in enumerate(literals, 1))
        path, = write_files(self, [("X.scala", src)])
        return run_tool("oracle_clones.py", os.path.dirname(path))

    def test_shared_run_is_reported(self):
        run = self.run_of(self.N + 10)
        r = self.report(f'"""WITH a AS ({run} FROM t)"""',
                        f'"""{run} FROM u WHERE x > 1"""')
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn(f"CLONE {self.N + 11} tokens: X.scala:q1_x:", r.stdout)
        self.assertIn("X.scala:q2_x:", r.stdout)

    def test_run_differing_in_one_token_is_not(self):
        n = self.N + 10
        run = self.run_of(n)
        other = run.replace(f"c{n // 2} ", f"d{n // 2} ")
        r = self.report(f'"""{run} FROM t"""', f'"""{other} FROM t"""')
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("0 shared runs", r.stdout)

    def test_run_of_min_run_tokens_is_reported_one_less_is_not(self):
        for n, rc in ((self.N, 1), (self.N - 1, 0)):
            run = self.run_of(n)
            r = self.report(f'"""x {run} y"""', f'"""z {run} w"""')
            self.assertEqual(r.returncode, rc, r.stdout)
            if rc:
                self.assertIn(f"CLONE {n} tokens", r.stdout)
            else:
                self.assertIn("0 shared runs", r.stdout)

    def test_interpolated_twin_is_not(self):
        twin = "s\"\"\"WITH ${OracleSql.twin(\"h\", \"k\")} FROM t\"\"\""
        r = self.report(twin, twin.replace("FROM t", "FROM u"))
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertEqual(
            oracle_clones.tokenize('WITH ${OracleSql.twin("h", "k")},\nx'),
            ["WITH", '${OracleSql.twin("h","k")}', ",", "x"])

    def test_margin_is_dropped_and_repeat_in_one_literal_found(self):
        run = self.run_of(self.N + 10)
        body = f"{run}\n        |UNION ALL\n        |{run}"
        r = self.report(f'"""{body}""".stripMargin')
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn(f"CLONE {self.N + 10} tokens", r.stdout)
        self.assertNotIn("|", r.stdout.split("tokens:")[1].split("...")[0])

    def test_queries_have_no_unlisted_clone(self):
        r = run_tool("oracle_clones.py")
        self.assertEqual(r.returncode, 0, r.stdout)


class CodeClonesTest(unittest.TestCase):
    N = oracle_clones.CODE_MIN_RUN
    SUMMARY = "shared code runs of >= %d tokens" % oracle_clones.CODE_MIN_RUN

    def report(self, *sources):
        """Run oracle_clones.py over Scala files A.scala, B.scala, ...
        holding `sources`."""
        names = [f"{chr(65 + i)}.scala" for i in range(len(sources))]
        path, *_ = write_files(self, list(zip(names, sources)))
        return run_tool("oracle_clones.py", os.path.dirname(path))

    def test_run_of_code_min_run_tokens_is_reported_one_less_is_not(self):
        for n, rc in ((self.N, 1), (self.N - 1, 0)):
            run = OracleClonesTest.run_of(n)
            r = self.report(f"x {run} y", f"z {run} w")
            self.assertEqual(r.returncode, rc, r.stdout)
            if rc:
                self.assertIn(f"CLONE {n} tokens: A.scala:?:1 @1 <-> "
                              "B.scala:?:1 @1", r.stdout)
            else:
                self.assertIn(f"0 {self.SUMMARY}", r.stdout)

    def test_triple_quoted_literal_breaks_a_run(self):
        a = OracleClonesTest.run_of(self.N - 10)
        b = OracleClonesTest.run_of(self.N - 10, prefix="d")
        src = f'{a} """SELECT 1""" {b}'
        r = self.report(f"x {src}", f"y {src}")
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn(f"0 {self.SUMMARY}", r.stdout)

    def test_import_lines_and_comments_are_ignored(self):
        run = OracleClonesTest.run_of(self.N + 10).split()
        half = len(run) // 2
        a = (f"x {' '.join(run[:half])}\n  import foo.bar.Baz\n"
             f"  // a note\n  /* a /* nested */ block */ "
             f"{' '.join(run[half:])}\n")
        r = self.report(a, f"y {' '.join(run)}")
        self.assertEqual(r.returncode, 1, r.stdout)
        self.assertIn(f"CLONE {self.N + 10} tokens", r.stdout)

    def test_qualified_names_count_from_the_first_capital(self):
        toks = oracle_clones.code_tokens
        self.assertEqual(
            toks("def f(e: org.apache.spark.sql.DataFrame) = e")[0],
            toks("def f(e: DataFrame) = e")[0])
        self.assertEqual(
            toks("graft.functions.GraphOps.connectedComponents(g)")[0],
            ["GraphOps", ".", "connectedComponents", "(", "g", ")"])
        self.assertEqual(toks('df.select($"a" =!= s"b$c")')[0],
                         ["df", ".", "select", "(", '$"a"', "=!=",
                          's"b$c"', ")"])

    def test_allowed_pair_passes(self):
        run = OracleClonesTest.run_of(self.N)
        path, _ = write_files(self, [("A.scala", f"  def f = {run}\n"),
                                     ("B.scala", f"  def g = {run}\n")])
        out = io.StringIO()
        allowed = {("A.scala:f", "B.scala:g"): "two copies on purpose"}
        argv = ["oracle_clones.py", os.path.dirname(path)]
        with mock.patch.dict(oracle_clones.ALLOWED, allowed), \
                mock.patch.object(sys, "argv", argv), \
                contextlib.redirect_stdout(out), \
                self.assertRaises(SystemExit) as done:
            oracle_clones.main()
        self.assertEqual(done.exception.code, 0, out.getvalue())
        self.assertIn(f"allowed {self.N + 1} tokens: A.scala:f:1",
                      out.getvalue())
        self.assertIn(f"1 {self.SUMMARY} in 2 files, 0 not allowed",
                      out.getvalue())

    def test_repo_has_no_unlisted_code_run(self):
        r = run_tool("oracle_clones.py")
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertRegex(r.stdout,
                         self.SUMMARY + r" in \d+ files, 0 not allowed")


class BenchDecodeTest(unittest.TestCase):
    LINE = {"metric": "total_s", "value": 1.0,
            "qn": "1-3,10", "queries": [10, 20, 30, 40]}

    def test_ranges_expand_and_ids_pad(self):
        self.assertEqual(bench_guard.decode_queries(self.LINE),
                         {"q01": 0.1, "q02": 0.2, "q03": 0.3, "q10": 0.4})

    def test_legacy_dict_keys_by_prefix(self):
        self.assertEqual(bench_guard.decode_queries(
            {"queries": {"q01_agg_pricing": 1.5, "q100_x": 2.0}}),
            {"q01": 1.5, "q100": 2.0})

    def test_bench_compare_reads_a_ranged_line(self):
        pa, = write_files(self, [("a.json", json.dumps(self.LINE))])
        r = run_tool("bench_compare.py", pa, pa)
        self.assertEqual(r.returncode, 0, r.stderr)
        self.assertIn("== shared 4 queries", r.stdout)


if __name__ == "__main__":
    unittest.main()
