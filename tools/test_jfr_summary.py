"""tools/jfr_summary.py over a small `jfr print --json` fixture.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""

import io
import json
import os
import sys
import tempfile
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jfr_summary  # noqa: E402


def frame(cls, method):
    return {"method": {"type": {"name": cls.replace(".", "/")}, "name": method}}


def event(kind, stack=(), **values):
    values["stackTrace"] = {"truncated": False, "frames": [frame(c, m) for c, m in stack]}
    return {"type": kind, "values": values}


MAIN = {"javaName": "main", "osName": "main"}
FOOTERS = [("jdk.internal.misc.Unsafe", "park"),
           ("graft.ledger.Catalog", "footers"), ("graft.ledger.Catalog", "rowCount")]

FIXTURE = {"recording": {"events": [
    event("jdk.ProcessStart", [("java.lang.ProcessBuilder", "start"),
                               ("org.apache.hadoop.util.Shell", "runCommand"),
                               ("graft.ledger.Catalog", "$anonfun$dataFiles$3"),
                               ("graft.ledger.Catalog", "footers")],
          command="ls -ld /tmp/wh/c1", eventThread=MAIN),
    event("jdk.ProcessStart", [("graft.ledger.Catalog", "dataFiles")],
          command="ls -ld /tmp/wh/c2", eventThread=MAIN),
    event("jdk.ProcessStart", [("org.apache.hadoop.util.Shell", "runCommand")],
          command="chmod 644 /tmp/wh/c1/part-0.parquet", eventThread=MAIN),
    event("jdk.ThreadStart", thread={"javaName": "checkPathsExist-ForkJoinPool-7-worker-1"}),
    event("jdk.ThreadStart", thread={"javaName": "checkPathsExist-ForkJoinPool-8-worker-3"}),
    event("jdk.ThreadStart", thread={"javaName": "broadcast-exchange-0"}),
    event("jdk.ThreadPark", FOOTERS, duration="PT0.25S", eventThread=MAIN),
    event("jdk.ThreadPark", FOOTERS, duration="PT1M0.5S", eventThread=MAIN),
    # another thread, and a main-thread park outside footers: not counted
    event("jdk.ThreadPark", FOOTERS, duration="PT9S",
          eventThread={"javaName": "Executor task launch worker-0"}),
    event("jdk.ThreadPark", [("graft.ledger.Warehouse", "run")], duration="PT9S",
          eventThread=MAIN),
]}}


class SummaryTest(unittest.TestCase):

    def test_durations(self):
        self.assertAlmostEqual(jfr_summary.seconds("PT0.061808978S"), 0.061808978)
        self.assertEqual(jfr_summary.seconds("PT1H2M3S"), 3723.0)
        self.assertEqual(jfr_summary.seconds("PT0S"), 0.0)

    def test_counts_by_command_caller_and_pool(self):
        processes, threads, park_s = jfr_summary.summarize(FIXTURE["recording"]["events"])
        self.assertEqual(processes[("ls", "graft.ledger.Catalog.dataFiles")], 2)
        self.assertEqual(processes[("chmod", "-")], 1)
        self.assertEqual(threads["checkPathsExist-ForkJoinPool-N-worker-N"], 2)
        self.assertEqual(threads["broadcast-exchange-N"], 1)
        self.assertAlmostEqual(park_s, 60.75)

    def test_main_prints_figures_per_upload(self):
        with tempfile.NamedTemporaryFile("w", suffix=".json", delete=False) as f:
            json.dump(FIXTURE, f)
            path = f.name
        out = io.StringIO()
        try:
            with redirect_stdout(out):
                jfr_summary.main([path, "--per", "2"])
        finally:
            os.remove(path)
        text = out.getvalue()
        self.assertIn("| ls | graft.ledger.Catalog.dataFiles | 1 |", text)
        self.assertIn("| checkPathsExist-ForkJoinPool-N-worker-N | 1 |", text)
        self.assertIn("main-thread park under graft.ledger.Catalog.footers: 30375.0 ms", text)


if __name__ == "__main__":
    unittest.main()
