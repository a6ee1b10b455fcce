"""Tests for the offline event-log parser.

``fixtures/tiny_eventlog.jsonl`` was recorded from a tiny job on
``local[2,2]`` with AQE off and the log's bulky events (environment dump,
SQL plans, accumulables) dropped:

- group ``tiny#shuffle``: ``range(0, 1000, 1, 4)`` grouped by ``id % 3``
  over two shuffle partitions, collected (one job, two stages);
- group ``tiny#retry``: a two-partition RDD job whose partition 0 raises on
  its first attempt, so one task fails and is retried;
- no group: ``range(5).count()``.

Run with ``python3 -m pytest perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import os

from eventlog import GroupStats, parse_file, total, union_ms

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "tiny_eventlog.jsonl")


def test_jobs_stages_and_tasks_attributed_by_group():
    groups = parse_file(FIXTURE)
    assert set(groups) == {"tiny#shuffle", "tiny#retry", None}
    shuffle = groups["tiny#shuffle"]
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (1, 2, 6)
    assert shuffle.failed_tasks == 0
    # every byte one stage writes to the shuffle, the next stage reads
    assert shuffle.shuffle_write_bytes == shuffle.shuffle_read_bytes > 0
    assert 0 < shuffle.executor_cpu_ms and 0 < shuffle.executor_run_ms
    assert shuffle.busy_s > 0


def test_retried_task_counts_as_failed():
    retry = parse_file(FIXTURE)["tiny#retry"]
    assert (retry.jobs, retry.stages) == (1, 1)
    assert (retry.tasks, retry.failed_tasks) == (3, 1)
    assert retry.shuffle_write_bytes == 0


def test_total_skips_ungrouped_jobs():
    groups = parse_file(FIXTURE)
    both = total(groups, lambda g: g.startswith("tiny#"))
    assert both.jobs == 2 and both.tasks == 9 and both.failed_tasks == 1
    assert len(both.job_spans) == 2
    assert total(groups, lambda g: g.endswith("#retry")).jobs == 1
    assert total(groups, lambda g: False) == GroupStats()


def test_union_of_overlapping_job_spans():
    assert union_ms([]) == 0
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(0, 100), (10, 20)]) == 100
