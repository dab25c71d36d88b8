"""End-to-end CLI runs mirroring the reference's argv modes
(publish_to_catalog.py:584-611): catalog routing from JSON inputs, a
twice-run stops_map whose second run is a fixpoint (idempotent sync), a
rerun over a changed archive, a run that fails after its staging write,
the job count of the run-log append, and a stops run that launches jobs
only through its writes and reads."""

from __future__ import annotations

import io
import json
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

import ntd_gtfs_to_socrata_spark.__main__ as cli
from ntd_gtfs_to_socrata_spark.__main__ import run_catalog, run_stops_map
from ntd_gtfs_to_socrata_spark.sinks import LocalParquetSink

STOPS_CSV = (
    "stop_id,stop_name,stop_lat,stop_lon,location_type\n"
    "1,Main,45.5,-122.6,0\n"
    "2,BadLat,xx,-122.6,\n"
    "3,Second,44.0,-121.0,1\n"
)


def _write_archive(path, stops_csv: str) -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("stops.txt", stops_csv)
    path.write_bytes(buf.getvalue())


def _state_keys(spark, state_dir: str) -> set[str]:
    rows = spark.read.parquet(state_dir + "/stops_state").select("feed_id_stop_id").collect()
    return {r[0] for r in rows}


def _persisted_rdds(spark) -> set[int]:
    # compared before/after a run rather than asserted empty: the session
    # is shared, and earlier tests' localCheckpoint RDDs are released by
    # the GC-driven context cleaner at no fixed time
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _write_inputs(tmp_path) -> tuple[str, str]:
    feeds = [
        {"agency_name": "A", "feed_id": "F1", "fetch_link": "https://a.example.com/gtfs.zip",
         "agency_website": "https://a.example.com", "have_consent_for_ntm": True},
        {"agency_name": "B", "feed_id": "F2", "fetch_link": None,
         "agency_website": None, "have_consent_for_ntm": True},
        {"agency_name": "C", "feed_id": "F3", "fetch_link": "https://c.example.com/gtfs.zip",
         "agency_website": None, "have_consent_for_ntm": False},
    ]
    catalog = [
        {"id": "aaaa-0001", "name": "A - F1",
         "description": "x\nFeed ID: F1\ny", "tags": ["national transit map"]},
    ]
    fp, cp = tmp_path / "feeds.json", tmp_path / "catalog.json"
    fp.write_text(json.dumps(feeds))
    cp.write_text(json.dumps(catalog))
    return str(fp), str(cp)


def test_cli_catalog_routes_and_logs(spark, tmp_path):
    fp, cp = _write_inputs(tmp_path)
    out = str(tmp_path / "out")

    assert run_catalog(spark, fp, cp, out, public=True) == 0
    routed = {r["feed_id"]: r["action"] for r in spark.read.parquet(out + "/routed").collect()}
    # F1 matches the catalog entry -> update; F2 is new -> create; F3 has
    # no consent -> filtered out entirely
    assert routed == {"F1": "update", "F2": "create"}
    log = spark.read.parquet(out + "/run_log").collect()
    assert len(log) == 1 and log[0]["run_successful"]
    assert (log[0]["create"], log[0]["update"], log[0]["error"]) == (1, 1, 0)


def test_cli_stops_map_is_idempotent(spark, tmp_path):
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_archive(zips / "feedX.zip", STOPS_CSV)

    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    cached = _persisted_rdds(spark)
    assert run_stops_map(spark, str(zips), state, out) == 0
    assert _persisted_rdds(spark) <= cached
    first = _state_keys(spark, state)
    assert first == {"feedX_1", "feedX_3"}  # row 2 quarantined (bad lat)
    q = spark.read.parquet(out + "/quarantine").collect()
    assert {r["stop_id"] for r in q} == {"2"}

    # second run over the same input converges to the same state
    assert run_stops_map(spark, str(zips), state, out) == 0
    second = _state_keys(spark, state)
    assert second == first
    # run_log appends one row per run
    log = spark.read.parquet(out + "/run_log").collect()
    assert [(r["upserted"], r["error"], r["error_blob"]) for r in log] == [(1, 0, "")] * 2


def test_cli_stops_map_rerun_sees_changed_archive(spark, tmp_path, capsys):
    """Two runs in one session with no cache clearing between them: the
    second must decode the rewritten archive, not reuse the first run's
    cached stops, and its printed counts must match what it wrote."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_archive(zips / "feedX.zip", STOPS_CSV + "4,Fourth,43.0,-120.0,0\n")
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    cached = _persisted_rdds(spark)
    assert run_stops_map(spark, str(zips), state, out) == 0

    # drop stop 4, rename stop 1
    _write_archive(zips / "feedX.zip", STOPS_CSV.replace("1,Main,", "1,Main Street,"))
    capsys.readouterr()
    assert run_stops_map(spark, str(zips), state, out) == 0
    printed = capsys.readouterr().out

    rows = spark.read.parquet(state + "/stops_state").collect()
    n_quarantined = spark.read.parquet(out + "/quarantine").count()
    assert f"synced={len(rows)} quarantined={n_quarantined} deleted=1 " in printed
    assert (len(rows), n_quarantined) == (2, 1)
    names = {r["feed_id_stop_id"]: r["stop_name"] for r in rows}
    assert names == {"feedX_1": "Main Street", "feedX_3": "Second"}
    assert _persisted_rdds(spark) <= cached


def test_cli_stops_map_failure_keeps_state_and_cleans_up(spark, tmp_path):
    """A run that fails after writing its staging snapshot leaves the live
    state as it was, removes its staging dir and releases its cache."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_archive(zips / "feedX.zip", STOPS_CSV)
    state, out = tmp_path / "state", str(tmp_path / "out")
    assert run_stops_map(spark, str(zips), str(state), out) == 0
    before = _state_keys(spark, str(state))

    # the new archive would change the state, but the run cannot write its
    # outputs under a path that is a regular file
    _write_archive(zips / "feedX.zip", STOPS_CSV.replace("3,Second", "5,Fifth"))
    bad_out = tmp_path / "out_is_a_file"
    bad_out.write_text("")
    cached = _persisted_rdds(spark)
    with pytest.raises(Py4JJavaError, match="ParentNotDirectoryException"):
        run_stops_map(spark, str(zips), str(state), str(bad_out))

    assert _state_keys(spark, str(state)) == before
    assert list(state.glob("stops_state.next-*")) == []
    assert _persisted_rdds(spark) <= cached


def _jobs_in_group(sc, group: str, call):
    """Run ``call()`` under a job group; return its result and the ids of
    the jobs it launched."""
    sc.setJobGroup(group, group)
    try:
        result = call()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_cli_run_log_append_is_one_job(spark, tmp_path, monkeypatch):
    """The run log's counts ride the writes the run modes already do:
    building the summary launches no job and appending it launches one.
    A pivot of the log would re-run the catalog or changelog plan here."""
    sc = spark.sparkContext
    writes: list[tuple[str, list[int]]] = []
    builds: list[list[int]] = []
    write, build = LocalParquetSink.write, cli.summary_row

    def recording_write(self, df):
        stats, ids = _jobs_in_group(sc, f"sink-write-{len(writes)}", lambda: write(self, df))
        writes.append((self.path, ids))
        return stats

    def recording_build(*args, **kwargs):
        frame, ids = _jobs_in_group(
            sc, f"summary-build-{len(builds)}", lambda: build(*args, **kwargs)
        )
        builds.append(ids)
        return frame

    monkeypatch.setattr(LocalParquetSink, "write", recording_write)
    monkeypatch.setattr(cli, "summary_row", recording_build)

    fp, cp = _write_inputs(tmp_path)
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_archive(zips / "feedX.zip", STOPS_CSV)
    out = tmp_path / "out"
    assert run_catalog(spark, fp, cp, str(out / "catalog"), public=True) == 0
    assert run_stops_map(spark, str(zips), str(tmp_path / "state"), str(out / "stops")) == 0

    appends = [ids for path, ids in writes if path.endswith("run_log")]
    assert [len(ids) for ids in appends] == [1, 1], writes
    assert builds == [[], []]


def test_cli_stops_map_launches_jobs_only_through_writes_and_reads(spark, tmp_path, monkeypatch):
    """The stops run's printed counts (synced, quarantined, deleted) and
    its run-log metrics are observed on the writes it does anyway: no
    count, collect or first of its own re-runs a plan."""
    zips = tmp_path / "zips"
    zips.mkdir()
    _write_archive(zips / "feedX.zip", STOPS_CSV + "4,Fourth,43.0,-120.0,0\n")
    state, out = str(tmp_path / "state"), str(tmp_path / "out")
    assert run_stops_map(spark, str(zips), state, out) == 0
    _write_archive(zips / "feedX.zip", STOPS_CSV)

    def refuse(self, *args, **kwargs):
        raise AssertionError("the stops run launched a job outside its writes and reads")

    frame_class = type(spark.range(1))  # the session's concrete DataFrame class
    with monkeypatch.context() as m:
        for name in ("count", "collect", "first"):
            m.setattr(frame_class, name, refuse)
        assert run_stops_map(spark, str(zips), state, out) == 0
    assert _state_keys(spark, state) == {"feedX_1", "feedX_3"}
