"""The stale-id legacy policy of the shared exactly-once protocol
(``fingerprint.exactly_once_applier``): for upsert, rollup and the
partitioned maintainers, a legacy batch id (no ledger entry) below the
latest committed one still writes its — invisible — version and
commits it, the pre-ledger behavior. ``annmaintain`` skips instead;
that side is pinned in tests/test_ann_stream.py. The appliers are
driven synchronously, without streaming machinery."""

import glob
import os

import pytest

SCHEMA = "op STRING, k STRING, seq INT, new_v INT, old_v INT"


class _CaptureStream:
    """Stands in for a streaming DataFrame: records the function handed
    to ``writeStream.foreachBatch`` instead of starting a query."""

    @property
    def writeStream(self):
        return self

    def foreachBatch(self, fn):
        self.fn = fn
        return self

    def option(self, *args):
        return self

    def trigger(self, **kwargs):
        return self

    def start(self):
        return self


def _maintainer(kind, base):
    """(apply, latest reader, version paths of a batch id)."""
    from oracle_cassandra_migrator_spark.streaming import (
        partitioned, rollup, upsert)

    cap = _CaptureStream()
    if kind == "upsert":
        upsert.foreach_batch_upsert(cap, base, ["k"], ["seq"], "unused")
        return (cap.fn, upsert.latest_snapshot,
                lambda b: [f"{base}/snapshot-v{b}"])
    if kind == "rollup":
        rollup.foreach_batch_rollup(
            cap, base, ["k"], "new_v", "old_v", "unused")
        return (cap.fn, rollup.latest_rollup,
                lambda b: [f"{base}/snapshot-v{b}"])
    apply = partitioned.make_upsert_applier(
        base, ["k"], ["seq"], n_buckets=4)
    return (apply, partitioned.latest_partitioned_snapshot,
            lambda b: [f"{base}/v{b}", f"{base}/manifest-v{b}.json"])


@pytest.mark.parametrize("kind", ["upsert", "rollup", "partitioned"])
def test_stale_legacy_id_writes_invisible_version_and_commits(
        spark, tmp_path, kind):
    base = str(tmp_path / kind)
    apply, latest, version_paths = _maintainer(kind, base)
    batches = [
        spark.createDataFrame(
            [("I", f"g{b}{i}", b, 10 * b + i, None) for i in range(3)],
            SCHEMA)
        for b in range(3)]
    apply(batches[0], 0)
    apply(batches[2], 2)
    want = sorted(map(tuple, latest(spark, base).collect()))

    # batch 1 is a legacy stale id: below the latest committed batch,
    # with neither a marker nor a ledger entry
    apply(batches[1], 1)

    assert os.path.exists(f"{base}/markers/batch-1.marker")
    assert glob.glob(f"{base}/fingerprints/fp-1-*.marker")
    assert all(os.path.exists(p) for p in version_paths(1))
    # the version is below batch 2, so readers never see it
    assert sorted(map(tuple, latest(spark, base).collect())) == want
