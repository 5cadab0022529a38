"""build_triples runs its dictionary branch (canonicalization) on a
second thread while the caller's thread materializes the page branch.
The fork must be invisible to callers: errors propagate after both
branches stop, no thread outlives the call, and every job carries the
caller's job group."""

from __future__ import annotations

import threading
import time

import pytest

import kgap_spark.canonicalize
import kgap_spark.triples.materialize as materialize
from kgap_spark.triples import build_triples


def _slow(real, done: list):
    def wrapper(*args, **kwargs):
        time.sleep(0.5)
        out = real(*args, **kwargs)
        done.append(True)
        return out

    return wrapper


def _boom(*args, **kwargs):
    raise RuntimeError("branch failed")


@pytest.mark.parametrize("failing", ["canonicalize", "mentions"])
def test_branch_error_propagates_after_join(spark, tiny, monkeypatch, failing):
    """An error in either branch reaches the caller, only after the other
    branch has finished, and leaves no thread behind."""
    done: list = []
    if failing == "canonicalize":
        monkeypatch.setattr(kgap_spark.canonicalize, "canonical_mapping", _boom)
        monkeypatch.setattr(
            materialize, "page_mentions", _slow(materialize.page_mentions, done))
    else:
        monkeypatch.setattr(materialize, "page_mentions", _boom)
        monkeypatch.setattr(
            kgap_spark.canonicalize, "canonical_mapping",
            _slow(kgap_spark.canonicalize.canonical_mapping, done))
    before = threading.active_count()
    with pytest.raises(RuntimeError, match="branch failed"):
        build_triples(tiny["web_pages"], tiny["alias_dict"])
    assert done == [True]
    assert threading.active_count() == before


def _job_description(sc, job_id: int) -> str | None:
    desc = sc._jsc.sc().statusStore().job(job_id).description()
    return desc.get() if desc.isDefined() else None


def test_jobs_carry_caller_group_and_branch_names(spark, tiny):
    """Every job build_triples launches is in the caller's job group (so
    cancelJobGroup reaches canonicalization too) and is named after its
    branch; the caller's description is restored afterwards."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker(group: str) -> int:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        (job,) = tracker.getJobIdsForGroup(group)
        return job

    try:
        first = marker("build-triples-before")
        sc.setJobGroup("build-triples", "build-triples")
        sc.setJobDescription("caller")
        before = threading.active_count()
        build_triples(tiny["web_pages"], tiny["alias_dict"])
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert threading.active_count() == before
        sc.setJobDescription(None)
        last = marker("build-triples-after")
    finally:
        sc.setJobDescription(None)
        sc.setLocalProperty("spark.jobGroup.id", None)

    launched = set(range(first + 1, last))
    assert launched
    assert set(tracker.getJobIdsForGroup("build-triples")) == launched
    names = {_job_description(sc, j) for j in launched}
    assert names == {"build_triples: canonicalize", "build_triples: mentions"}
