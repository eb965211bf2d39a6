"""Unit tests for the benchmark's measurement rules (no Spark).

    python3 -m pytest perfbench/tests/test_stats.py -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import stats
from perfbench.stats import MISSING, Segment


class TestPercentileRule:
    def test_samples_needed(self):
        assert stats.samples_needed(50) == 20
        assert stats.samples_needed(75) == 40
        assert stats.samples_needed(90) == 100
        assert stats.samples_needed(99) == 1000

    def test_refuses_thin_tail(self):
        with pytest.raises(stats.TooFewSamples):
            stats.percentile(range(19), 50)
        with pytest.raises(stats.TooFewSamples):
            stats.percentile(range(99), 90)
        with pytest.raises(stats.TooFewSamples):
            stats.percentile([], 50)

    def test_exactly_ten_beyond(self):
        vals = list(range(1, 101))  # 1..100
        assert stats.percentile(vals, 90) == 90  # 91..100 lie beyond
        assert stats.percentile(list(range(1, 21)), 50) == 10

    def test_unsorted_input(self):
        vals = [5, 1, 4, 2, 3] * 4  # 20 samples, median rank 10
        assert stats.percentile(vals, 50) == 3

    def test_missing_counts_as_miss(self):
        vals = [0.1] * 15 + [MISSING] * 5
        assert stats.percentile(vals, 50) == 0.1
        vals = [0.1] * 9 + [MISSING] * 11
        assert stats.percentile(vals, 50) == MISSING

    def test_highest_supported_percentile(self):
        assert stats.highest_percentile([1.0] * 19) is None
        assert stats.highest_percentile(list(range(1, 41))).startswith("p75=30.0000s")
        assert stats.highest_percentile(list(range(100))).startswith("p90=")


class TestFreshnessJoin:
    # ledger rows as applied_ranges() returns them: (lo, hi, sid, rows)
    LEDGER = [
        (0, 100, 1, 100),  # preload
        (100, 300, 2, 200),  # one epoch covering two segments
        (300, 400, 3, 100),
    ]
    COMMITTED = {1: 10.0, 2: 25.0, 3: 31.5}

    def test_segment_to_ledger_row_to_committed_at(self):
        segs = [
            Segment(100, 200, due=20.0, landed=20.0),
            Segment(200, 300, due=22.0, landed=22.1),
            Segment(300, 400, due=24.0, landed=24.0),
        ]
        got = stats.freshness(segs, self.LEDGER, self.COMMITTED)
        assert got == pytest.approx([5.0, 3.0, 7.5])

    def test_first_covering_snapshot_wins(self):
        # a later row that also covers the segment must not be used
        ledger = self.LEDGER + [(100, 400, 4, 300)]
        committed = {**self.COMMITTED, 4: 99.0}
        got = stats.freshness([Segment(100, 200, due=20.0)], ledger, committed)
        assert got == [5.0]

    def test_uncovered_segment_is_pending(self):
        got = stats.freshness(
            [Segment(400, 500, due=30.0)], self.LEDGER, self.COMMITTED
        )
        assert got == [MISSING]

    def test_partial_cover_is_pending(self):
        ledger = [(100, 150, 2, 50)]
        got = stats.freshness([Segment(100, 200, due=0.0)], ledger, {2: 1.0})
        assert got == [MISSING]

    def test_row_without_snapshot_is_ignored(self):
        # an expired snapshot has no committed_at: its rows can't time anything
        got = stats.freshness([Segment(100, 200, due=0.0)], self.LEDGER, {1: 1.0})
        assert got == [MISSING]

    def test_applied_prefix(self):
        assert stats.applied_prefix(self.LEDGER) == 400
        with pytest.raises(ValueError, match="gap"):
            stats.applied_prefix([(0, 100, 1, 0), (200, 300, 2, 0)])
        with pytest.raises(ValueError, match="overlap"):
            stats.applied_prefix([(0, 100, 1, 0), (50, 300, 2, 0)])


class TestGeneratorLateness:
    def test_lateness_from_due_time(self):
        segs = [
            Segment(0, 1, due=10.0, landed=10.0),
            Segment(1, 2, due=10.5, landed=10.75),
            Segment(2, 3, due=11.0, landed=12.5),
        ]
        assert stats.lateness(segs) == pytest.approx([0.0, 0.25, 1.5])

    def test_unlanded_segments_are_not_lateness(self):
        segs = [Segment(0, 1, due=1.0, landed=1.2), Segment(1, 2, due=2.0)]
        assert stats.lateness(segs) == pytest.approx([0.2])

    def test_clock_jitter_clamped(self):
        assert stats.lateness([Segment(0, 1, due=5.0, landed=4.9999)]) == [0.0]

    def test_late_generator_shows_in_freshness(self):
        # a segment landed late is still timed from when it was DUE
        seg = Segment(100, 200, due=20.0, landed=23.0)
        got = stats.freshness([seg], [(100, 200, 2, 100)], {2: 24.0})
        assert got == [4.0]
        assert not math.isinf(got[0])


def test_epoch_start_reads_the_progress_timestamp_as_utc():
    p = {"timestamp": "2026-01-02T03:04:05.250Z"}
    assert stats.epoch_start(p) == pytest.approx(1767323045.25)
