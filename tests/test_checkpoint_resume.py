"""Checkpoint manifest + idempotent resume (north rule B5) and keyed merge."""

import json
from pathlib import Path

from pyspark.sql import functions as F

from cheque_ocr_project_spark.sources import checkpoint as CP
from cheque_ocr_project_spark.sources import io as IO


def test_resume_skips_completed_buckets(spark, transcripts_sdf, fixture_data, tmp_path):
    _t, _m, dd = fixture_data
    out = str(tmp_path / "out")
    n_buckets = 8

    # full run
    stats1 = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n_buckets)
    assert stats1["processed_buckets"] == n_buckets
    full = spark.read.parquet(f"{out}/data")
    n_all = full.count()
    assert n_all == transcripts_sdf.count()

    # resume over the same input: nothing to do
    stats2 = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n_buckets)
    assert stats2["processed_buckets"] == 0
    assert stats2["skipped_buckets"] == n_buckets

    # simulate a crash between data commit and manifest append: drop the
    # manifest entries for 3 buckets, resume must reprocess exactly those
    manifest_dir = Path(out) / "_manifest"
    entries = CP.read_manifest(out)
    keep = [e for e in entries if e["bucket"] not in {0, 1, 2}]
    for f in manifest_dir.glob("*.json"):
        f.unlink()
    CP.append_manifest(out, keep)

    stats3 = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n_buckets)
    assert stats3["processed_buckets"] == 3
    assert stats3["skipped_buckets"] == n_buckets - 3

    # idempotence: same row count, same content after the partial rerun
    again = spark.read.parquet(f"{out}/data")
    assert again.count() == n_all
    assert CP.completed_buckets(out) == set(range(n_buckets))

    # manifest metrics are sane
    for e in CP.read_manifest(out):
        assert e["rows"] > 0 and e["bytes"] > 0 and "input_fingerprint" in e


def test_manifest_metrics_cover_all_rows(spark, transcripts_sdf, fixture_data, tmp_path):
    _t, _m, dd = fixture_data
    out = str(tmp_path / "out2")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n_buckets=4)
    total = sum(e["rows"] for e in CP.read_manifest(out))
    assert total == transcripts_sdf.count()


def test_zero_output_bucket_still_committed(spark, transcripts_sdf,
                                            fixture_data, tmp_path,
                                            monkeypatch):
    """A bucket whose extraction yields ZERO output rows must still get a
    manifest entry (rows=0), or resume re-processes it forever and
    processed_buckets overcounts."""
    from cheque_ocr_project_spark.plans import pipeline as P

    _t, _m, dd = fixture_data
    out = str(tmp_path / "out_zero")

    real = P.extract_pipeline

    def dropping_pipeline(spark_, df, *a, **kw):
        # emit nothing for any turn of conversations hashing into the test
        # slice — deterministic, bucket-aligned zero-output simulation
        return real(spark_, df, *a, **kw).filter(F.lit(False))

    monkeypatch.setattr(P, "extract_pipeline", dropping_pipeline)
    stats = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out,
                                   n_buckets=4, wave_size=2)
    assert stats["processed_buckets"] == 4
    entries = CP.read_manifest(out)
    assert {e["bucket"] for e in entries} == set(range(4))
    assert all(e["rows"] == 0 and e["bytes"] == 0 for e in entries)
    assert all(e["input_rows"] > 0 for e in entries)

    # resume: every attempted bucket is committed — nothing left to do
    monkeypatch.setattr(P, "extract_pipeline", real)
    stats2 = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out,
                                    n_buckets=4)
    assert stats2["processed_buckets"] == 0
    assert stats2["skipped_buckets"] == 4


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [("c1", 0, "OLD", "X"), ("c1", 1, "OLD", "X"), ("c2", 0, "OLD", "X")],
        "conv_id string, turn_idx int, drawer_nm string, opr_no string",
    )
    updates = spark.createDataFrame(
        [("c1", 1, "NEW NAME", "AS601"), ("c9", 9, "IGNORED", "AS601")],
        "conv_id string, turn_idx int, drawer_nm string, opr_no string",
    )
    merged = IO.merge_upsert(
        target, updates, ["conv_id", "turn_idx"], ["drawer_nm", "opr_no"]
    )
    rows = {(r.conv_id, r.turn_idx): (r.drawer_nm, r.opr_no) for r in merged.collect()}
    assert rows[("c1", 1)] == ("NEW NAME", "AS601")   # matched → updated
    assert rows[("c1", 0)] == ("OLD", "X")            # unmatched → unchanged
    assert ("c9", 9) not in rows                      # no insert semantics
    assert len(rows) == 3


def test_stem_key(spark):
    df = spark.createDataFrame(
        [("DIR/P_000123.TIF",), ("a\\b\\IMG.tiff",), ("plain",)], "f string"
    )
    got = [r[0] for r in df.select(IO.stem_key(F.col("f"))).collect()]
    assert got == ["p_000123", "img", "plain"]


def test_wave_commit_survives_driver_crash(spark, transcripts_sdf, fixture_data, tmp_path):
    """A driver crash between waves must lose at most the in-flight wave:
    the committed waves' buckets are skipped on resume (VERDICT round-1 #6)."""
    import pytest

    _t, _m, dd = fixture_data
    out = str(tmp_path / "out_wave")
    n_buckets = 8

    with pytest.raises(RuntimeError, match="simulated driver crash"):
        CP.run_with_checkpoint(
            spark, transcripts_sdf, dd, out, n_buckets,
            wave_size=3, _fail_after_waves=1,
        )
    committed = CP.completed_buckets(out)
    assert len(committed) == 3  # exactly the first wave

    # resume: processes only the remaining buckets, in waves
    stats = CP.run_with_checkpoint(
        spark, transcripts_sdf, dd, out, n_buckets, wave_size=3
    )
    assert stats["processed_buckets"] == n_buckets - 3
    assert stats["skipped_buckets"] == 3
    assert stats["waves"] == 2  # ceil(5/3)

    full = spark.read.parquet(f"{out}/data")
    assert full.count() == transcripts_sdf.count()
    assert full.select("conv_id", "turn_idx").distinct().count() == full.count()

    # per-wave honest wall_ms: entries carry their own wave's wall + index
    waves = {e["wave"] for e in CP.read_manifest(out)}
    assert waves == {0, 1}  # resume restarted wave numbering
    assert all(e["wall_ms"] > 0 for e in CP.read_manifest(out))


def test_read_transcripts_csv_and_json(spark, fixture_data, tmp_path):
    """S5: the manifest-CSV (and JSON-lines) side channels read back into
    the transcripts shape with restored types."""
    transcripts, _m, _dd = fixture_data
    sdf = spark.createDataFrame(transcripts.head(40)).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    csv_dir = str(tmp_path / "in_csv")
    sdf.write.option("header", True).mode("overwrite").csv(csv_dir + "/part.csv")
    back = IO.read_transcripts(spark, csv_dir + "/part.csv")
    assert back.count() == 40
    assert dict(back.dtypes)["turn_idx"] == "int"

    json_dir = str(tmp_path / "in_json")
    sdf.write.mode("overwrite").json(json_dir + "/part.json")
    backj = IO.read_transcripts(spark, json_dir + "/part.json")
    assert backj.count() == 40

    orc_dir = str(tmp_path / "in_orc")
    sdf.write.mode("overwrite").orc(orc_dir + "/part.orc")
    backo = IO.read_transcripts(spark, orc_dir + "/part.orc")
    assert backo.count() == 40
    # ORC preserves the typed schema end-to-end (no cast restoration)
    assert dict(backo.dtypes)["turn_idx"] == "int"
    assert dict(backo.dtypes)["ts"] == "timestamp"


def test_job_refuses_silent_manifest_overwrite(tmp_path, monkeypatch):
    """A fresh run into an output with existing run state must fail without
    --overwrite (and must not delete it); --overwrite must discard ALL
    resume state — manifest, staged input + marker, and the data dir — so a
    fresh --stage-input run can never reuse a stale staged copy."""
    import pytest

    from cheque_ocr_project_spark import job

    out = tmp_path / "jobout"
    manifest = out / "_manifest"
    manifest.mkdir(parents=True)
    (manifest / "commit-1-1.json").write_text('{"bucket": 0, "rows": 1}\n')
    staged = out / "_staged"
    staged.mkdir()
    (staged / "bucket=0").mkdir()
    marker = out / "_staged.committed"
    marker.write_text("ok\n")
    data = out / "data"
    data.mkdir()
    (data / "bucket=7").mkdir()

    argv = ["--input", "/nonexistent", "--output", str(out)]
    # SparkSession would be built before the guard — stub it out
    import pyspark.sql as pq

    class _Boom:
        def __getattr__(self, name):
            raise AssertionError("must exit before touching Spark IO")

    monkeypatch.setattr(pq.SparkSession, "builder", _Boom(), raising=False)
    with pytest.raises(SystemExit, match="already has run state"):
        job.main(argv)
    assert manifest.exists() and staged.exists()  # nothing deleted
    assert marker.exists() and data.exists()

    # --overwrite deletes every piece of state and proceeds to (stubbed) Spark
    with pytest.raises(AssertionError, match="must exit before"):
        job.main(argv + ["--overwrite"])
    assert not manifest.exists() and not staged.exists()
    assert not marker.exists() and not data.exists()


def test_resume_with_overwrite_refused_by_both_entrypoints(tmp_path):
    """--resume keeps run state and --overwrite discards it: both together
    is an error in job.py and corpus_job alike, raised before any Spark
    work and deleting nothing."""
    import pytest

    from cheque_ocr_project_spark import corpus_job, job

    out = tmp_path / "jobout"
    manifest = out / "_manifest"
    manifest.mkdir(parents=True)
    (manifest / "commit-1-1.json").write_text('{"bucket": 0, "rows": 1}\n')
    with pytest.raises(SystemExit, match="not both"):
        job.main(["--input", "/nonexistent", "--output", str(out),
                  "--resume", "--overwrite"])
    assert (manifest / "commit-1-1.json").exists()

    run = tmp_path / "corpus"
    marker = run / "survivors" / "_STAGE_DONE"
    marker.parent.mkdir(parents=True)
    marker.write_text('{"rows": 1, "wall_ms": 1.0}')
    with pytest.raises(SystemExit, match="not both"):
        corpus_job.run(None, "/nonexistent", str(run), resume=True,
                       overwrite=True)
    assert marker.exists()


def test_staged_input_waves(spark, transcripts_sdf, fixture_data, tmp_path):
    """stage_input=True: one bucket-partitioned staging write, waves read
    with partition pruning; results identical to the unstaged run."""
    from pathlib import Path

    _t, _m, dd = fixture_data
    out = str(tmp_path / "out_staged")
    stats = CP.run_with_checkpoint(
        spark, transcripts_sdf, dd, out, n_buckets=8, wave_size=3,
        stage_input=True,
    )
    assert stats["processed_buckets"] == 8 and stats["waves"] == 3
    assert Path(out + "/_staged.committed").exists()
    full = spark.read.parquet(f"{out}/data")
    assert full.count() == transcripts_sdf.count()
    assert full.select("conv_id", "turn_idx").distinct().count() == full.count()

    # resume reuses the staged copy and does nothing
    stats2 = CP.run_with_checkpoint(
        spark, transcripts_sdf, dd, out, n_buckets=8, stage_input=True
    )
    assert stats2["processed_buckets"] == 0


def _assert_manifest_exact(transcripts_sdf, out, n_buckets):
    """Every manifest entry equals an independent recomputation: its input
    fingerprint and row count from the input, its rows from the committed
    data and its bytes from the sizes of the data files holding the
    bucket's rows; and every data file is listed by an entry."""
    import os

    import pandas as pd

    inputs = {
        r["bucket"]: (r["input_fingerprint"], r["input_rows"])
        for r in CP.input_fingerprints(
            CP.with_bucket(transcripts_sdf, n_buckets)).collect()
    }
    data = pd.read_parquet(f"{out}/data")
    rows = data.groupby(data["bucket"].astype("int64")).size()
    entries = CP.live_entries(CP.read_manifest(out))
    assert sorted(e["bucket"] for e in entries) == list(range(n_buckets))
    data_dir = os.path.join(out, "data")
    files = {f for f in os.listdir(data_dir) if f.endswith(".parquet")}
    holding = {}
    for f in files:
        buckets = pd.read_parquet(os.path.join(data_dir, f))["bucket"]
        for b in set(buckets.astype("int64")):
            holding.setdefault(b, set()).add(f)
    assert files == {f["path"] for e in entries for f in e["files"]}
    for e in entries:
        b = e["bucket"]
        nbytes = sum(os.path.getsize(os.path.join(data_dir, f))
                     for f in holding[b])
        assert {f["path"] for f in e["files"]} == holding[b], e
        assert (e["input_fingerprint"], e["input_rows"]) == inputs[b], e
        assert (e["rows"], e["bytes"]) == (rows.loc[b], nbytes), e


def test_manifest_entries_match_input_and_committed_data(
        spark, transcripts_sdf, fixture_data, tmp_path):
    """Multi-wave, crashed-then-resumed and staged-input runs all record
    each bucket's exact input fingerprint/rows and committed rows/bytes."""
    import pytest

    _t, _m, dd = fixture_data
    n = 8
    plain = str(tmp_path / "plain")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, plain, n, wave_size=3)
    _assert_manifest_exact(transcripts_sdf, plain, n)

    resumed = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="simulated driver crash"):
        CP.run_with_checkpoint(spark, transcripts_sdf, dd, resumed, n,
                               wave_size=3, _fail_after_waves=1)
    stats = CP.run_with_checkpoint(spark, transcripts_sdf, dd, resumed, n,
                                   wave_size=3)
    assert stats["skipped_buckets"] == 3
    _assert_manifest_exact(transcripts_sdf, resumed, n)

    staged = str(tmp_path / "staged")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, staged, n,
                           wave_size=3, stage_input=True)
    _assert_manifest_exact(transcripts_sdf, staged, n)


def test_checkpoint_spark_job_budget(spark, transcripts_sdf, fixture_data,
                                     tmp_path):
    """The bookkeeping costs one fingerprint aggregate up front and nothing
    per wave beyond its write: at most 2 Spark jobs up front plus 1 per
    wave. A per-wave input rescan or read-back of the committed data
    breaks the budget."""
    _t, _m, dd = fixture_data
    transcripts_sdf.count()  # fill the cache outside the counted group
    sc = spark.sparkContext
    group = "checkpoint-job-budget"
    sc.setJobGroup(group, "checkpointed run")
    try:
        stats = CP.run_with_checkpoint(spark, transcripts_sdf, dd,
                                       str(tmp_path / "out"), n_buckets=8,
                                       wave_size=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert stats["waves"] == 4
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= 2 + stats["waves"], jobs


def test_writers_leave_session_overwrite_mode_alone(
        spark, transcripts_sdf, fixture_data, tmp_path):
    """The checkpointed job and the streaming sink ask for dynamic
    partition overwrite on their own writes: the caller's session conf
    stays as it was, and later waves still keep earlier waves' buckets."""
    from cheque_ocr_project_spark.streaming import stream as ST

    _t, _m, dd = fixture_data
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "out")
        CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n_buckets=4,
                               wave_size=2)
        assert spark.conf.get(key) == "static"
        assert spark.read.parquet(f"{out}/data").count() == \
            transcripts_sdf.count()

        in_dir = str(tmp_path / "in")
        transcripts_sdf.limit(20).write.parquet(in_dir)
        q = ST.stream_extract(spark, in_dir, str(tmp_path / "sout"),
                              str(tmp_path / "cp"), dd)
        q.awaitTermination()
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, before)


def _rows(out):
    import pandas as pd

    key = ["conv_id", "turn_idx"]
    return (pd.read_parquet(f"{out}/data").sort_values(key)
            .reset_index(drop=True))


def test_unlisted_wave_files_deleted_on_resume(spark, transcripts_sdf,
                                               fixture_data, tmp_path):
    """A wave whose data committed but whose manifest commit is missing
    left files no entry lists: a resume deletes them (and a crashed write's
    _temporary) before its waves, re-runs the wave's buckets, and the
    output equals a clean run row for row."""
    import pandas as pd

    _t, _m, dd = fixture_data
    n = 8
    clean = str(tmp_path / "clean")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, clean, n, wave_size=3)

    out = str(tmp_path / "out")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n, wave_size=3)
    last = CP._commits(Path(out) / "_manifest")[-1]
    orphans = {f["path"] for line in last.read_text().splitlines()
               for f in json.loads(line)["files"]}
    last.unlink()
    (Path(out) / "data" / "_temporary" / "0").mkdir(parents=True)

    stats = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n,
                                   wave_size=3)
    assert stats["processed_buckets"] == 2 and stats["waves"] == 1
    data = Path(out) / "data"
    left = {p.name for p in data.iterdir()}
    assert not orphans & left and "_temporary" not in left
    assert not any(f".{o}.crc" in left for o in orphans)
    pd.testing.assert_frame_equal(_rows(out), _rows(clean))
    _assert_manifest_exact(transcripts_sdf, out, n)


def test_partly_listed_files_rewritten_on_resume(spark, transcripts_sdf,
                                                 fixture_data, tmp_path):
    """Dropping some of a wave's entries leaves its files holding rows of
    buckets no entry lists: a resume rewrites those files without them,
    so the re-run buckets' rows are not duplicated and every entry's bytes
    still match the files that hold its rows."""
    import pandas as pd

    _t, _m, dd = fixture_data
    n = 8
    clean = str(tmp_path / "clean")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, clean, n)

    out = str(tmp_path / "out")
    CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n)
    keep = [e for e in CP.read_manifest(out) if e["bucket"] not in {0, 1, 2}]
    for f in (Path(out) / "_manifest").glob("*.json"):
        f.unlink()
    CP.append_manifest(out, keep)

    stats = CP.run_with_checkpoint(spark, transcripts_sdf, dd, out, n)
    assert stats["processed_buckets"] == 3
    pd.testing.assert_frame_equal(_rows(out), _rows(clean))
    _assert_manifest_exact(transcripts_sdf, out, n)
    # Spark reads the rewritten files beside its own
    assert spark.read.parquet(f"{out}/data").count() == len(_rows(clean))


def test_resume_refuses_bucket_directory_layout(spark, transcripts_sdf,
                                                fixture_data, tmp_path):
    """An output written with data/bucket=<b> directories and entries that
    list no files cannot be resumed: the run exits with a one-line message
    and deletes nothing."""
    import pandas as pd
    import pytest

    _t, _m, dd = fixture_data
    out = tmp_path / "old"
    part = out / "data" / "bucket=3" / "part-0.parquet"
    part.parent.mkdir(parents=True)
    pd.DataFrame({"conv_id": ["c"], "turn_idx": [0]}).to_parquet(part)
    CP.append_manifest(str(out), [{"bucket": 3, "rows": 1, "bytes": 1}])
    before = sorted(p for p in out.rglob("*"))

    with pytest.raises(SystemExit, match="bucket=<b> directories") as exc:
        CP.run_with_checkpoint(spark, transcripts_sdf, dd, str(out), 8)
    assert "\n" not in str(exc.value)
    assert sorted(p for p in out.rglob("*")) == before


def test_read_manifest_keeps_every_commit(tmp_path):
    """read_manifest returns every committed entry in commit order, so a
    bucket committed twice shows twice; live_entries keeps the latest."""
    out = str(tmp_path / "m")
    CP.append_manifest(out, [{"bucket": 0, "rows": 1},
                             {"bucket": 1, "rows": 2}])
    CP.append_manifest(out, [{"bucket": 0, "rows": 3}])
    entries = CP.read_manifest(out)
    assert [(e["bucket"], e["rows"]) for e in entries] == \
        [(0, 1), (1, 2), (0, 3)]
    assert sorted((e["bucket"], e["rows"])
                  for e in CP.live_entries(entries)) == [(0, 3), (1, 2)]
