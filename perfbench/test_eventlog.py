"""Tests of the event-log reducer on a small captured Spark 4.1 log.

``fixtures/eventlog_v2_local-1`` holds a rolling log of one local[4]
session at sf0.001, trimmed to the fields the reducer reads and split in
two files: one untagged ``spark.range(10).count()``, ``q_pricing_summary``
and ``q_stream_tumbling`` tagged ``:build``/``:exec``, and one job tagged
``fails`` whose only task raised.

Run: python3 -m unittest discover -s perfbench
"""

from __future__ import annotations

import json
import unittest
from collections import Counter
from pathlib import Path

from eventlog import TAG, event_files, read_events, reduce_events

FIXTURE = Path(__file__).resolve().parent / "fixtures"


class EventLogTest(unittest.TestCase):
    def setUp(self):
        self.events = list(read_events(FIXTURE))
        self.groups = reduce_events(self.events)

    def test_reads_rolled_files_in_order_and_skips_markers(self):
        self.assertEqual(
            [p.name for p in event_files(FIXTURE)], ["events_1_local-1", "events_2_local-1"]
        )

    def test_jobs_and_tasks_per_tag_match_the_raw_events(self):
        started = Counter(
            e["Properties"].get(TAG) for e in self.events if e["Event"] == "SparkListenerJobStart"
        )
        self.assertEqual({t: g.jobs for t, g in self.groups.items()}, dict(started))
        task_ends = [e for e in self.events if e["Event"] == "SparkListenerTaskEnd"]
        self.assertEqual(sum(g.tasks for g in self.groups.values()), len(task_ends))
        self.assertEqual(
            sum(g.executor_run_ms for g in self.groups.values()),
            sum(e["Task Metrics"]["Executor Run Time"] for e in task_ends),
        )

    def test_untagged_and_failed_work_is_kept_apart(self):
        self.assertEqual(self.groups[None].jobs, 2)
        self.assertEqual(self.groups["fails"].failed_tasks, 1)
        self.assertEqual(sum(g.failed_tasks for g in self.groups.values()), 1)

    def test_query_groups(self):
        pricing = self.groups["q_pricing_summary:exec"]
        self.assertEqual((pricing.jobs, pricing.stages, pricing.stages_skipped), (4, 4, 4))
        self.assertEqual((pricing.input_rows, pricing.input_bytes), (6000, 5864))
        self.assertEqual(pricing.shuffle_write_bytes, 1282)
        stream = self.groups["q_stream_tumbling:build"]
        self.assertEqual((stream.jobs, stream.stages, stream.tasks), (4, 6, 25))
        for g in self.groups.values():
            self.assertEqual(len(g.job_spans_ms), g.jobs)
            self.assertTrue(all(a <= b for a, b in g.job_spans_ms))

    def test_cli_prints_one_json_object(self):
        import subprocess
        import sys

        out = subprocess.run(
            [sys.executable, str(Path(__file__).with_name("eventlog.py")), str(FIXTURE)],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
        self.assertEqual(json.loads(out)["None"]["jobs"], 2)


if __name__ == "__main__":
    unittest.main()
