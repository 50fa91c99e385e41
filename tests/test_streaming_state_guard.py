"""The batch-keyed state store (streaming/_state.py): a missing or empty
state directory is the only condition that reads as "first batch"; a
stray entry or an unreadable partition must PROPAGATE so the
micro-batch retries, instead of silently resetting the carried state
(lattice shift / sketch reset / sequence-counter restart) — the
ADVICE-r8 silent-corruption hazard.
"""

import pytest

from spatialpandas_spark.streaming._state import read_state, write_partition


def test_missing_path_is_first_batch(spark, tmp_path_factory):
    td = str(tmp_path_factory.mktemp("stateguard"))
    assert read_state(spark, f"{td}/nope") is None
    assert read_state(spark, f"{td}/nope", 3, "v long") is None


def test_empty_state_dir_is_first_batch(spark, tmp_path_factory):
    """A zero-row first batch leaves an existing, empty directory: no
    ``batch=`` partition and no ``_SUCCESS``. It reads as no prior
    batch, and so does a later batch's read."""
    td = tmp_path_factory.mktemp("stateguard_empty")
    st = td / "state"
    write_partition(spark.createDataFrame([], "h long"), str(st), 0)
    assert st.is_dir() and list(st.iterdir()) == []
    assert read_state(spark, str(st)) is None
    assert read_state(spark, str(st), 1, "h long") is None


def test_latest_partition_below_before_batch(spark, tmp_path_factory):
    """The reader returns the largest written batch below
    ``before_batch`` (the latest of all without it); a rewrite of one
    partition leaves the others as they were."""
    st = str(tmp_path_factory.mktemp("stateguard_latest") / "state")
    for b in (0, 2, 5):
        write_partition(spark.createDataFrame([(b * 10,)], "v long"), st, b)
    write_partition(spark.createDataFrame([(21,)], "v long"), st, 2)

    def value(before=None):
        df = read_state(spark, st, before, "v long")
        return None if df is None else [r["v"] for r in df.collect()]

    assert value(0) is None
    assert value(1) == [0]
    assert value(5) == [21]
    assert value(6) == [50]
    assert value() == [50]


def test_finding_latest_partition_runs_no_spark_job(spark, tmp_path_factory):
    """Finding the latest partition lists the directory: the read
    launches no Spark job (a filter-and-max read of the whole directory
    launched 3 to find the same partition). Reading its rows does."""
    st = str(tmp_path_factory.mktemp("stateguard_jobs") / "state")
    for b in range(3):
        write_partition(spark.createDataFrame([(b,)], "v long"), st, b)
    sc = spark.sparkContext
    group = "state-store-find-latest"
    sc.setJobGroup(group, "find the latest state partition")
    try:
        df = read_state(spark, st, 2, "v long")
        assert read_state(spark, f"{st}-missing", 2, "v long") is None
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert [r["v"] for r in df.collect()] == [1]
        # the probe does see jobs once an action runs
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_corrupt_state_raises_not_resets(spark, tmp_path_factory):
    # a state DIRECTORY that exists but holds a garbage "parquet" file:
    # with the old bare-except this read as "first batch" and silently
    # reset the state
    td = tmp_path_factory.mktemp("stateguard2")
    bad = td / "state"
    bad.mkdir()
    (bad / "part-0000.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(ValueError, match="unexpected entry"):
        read_state(spark, str(bad))


def test_unreadable_partition_raises(spark, tmp_path_factory):
    """A partition that fails to read raises: at the read when the
    schema is inferred, at the first action when the caller gives it."""
    td = tmp_path_factory.mktemp("stateguard_part")
    part = td / "state" / "batch=0"
    part.mkdir(parents=True)
    (part / "part-0000.parquet").write_bytes(b"garbage bytes, no footer")
    with pytest.raises(Exception):
        read_state(spark, str(td / "state"))
    with pytest.raises(Exception):
        read_state(spark, str(td / "state"), 1, "v long").collect()


def test_wrapped_message_error_raises_not_resets(spark, tmp_path_factory):
    """VERDICT r9 #5: no message-substring matching. A state path whose
    NAME contains "PATH_NOT_FOUND" / "Path does not exist" and holds
    garbage is corrupt state, not a first batch — the old substring arm
    silently reset it."""
    for dirname in ("PATH_NOT_FOUND", "Path does not exist"):
        td = tmp_path_factory.mktemp("stateguard_wrapped")
        bad = td / dirname
        bad.mkdir()
        (bad / "part-0000.parquet").write_bytes(b"not parquet either")
        with pytest.raises(ValueError, match="unexpected entry"):
            read_state(spark, str(bad))


@pytest.mark.parametrize("stray", ["file", "dir", "bad-key"])
def test_stray_entry_in_state_dir_raises(spark, tmp_path_factory, stray):
    """An existing state directory never reads as a first batch or
    skips what it cannot place: beside a valid partition, a stray file,
    a non-partition directory or a non-integer batch key raises."""
    st = tmp_path_factory.mktemp("stateguard_stray") / "state"
    write_partition(spark.createDataFrame([(1,)], "v long"), str(st), 0)
    if stray == "file":
        (st / "notes.txt").write_text("x")
    elif stray == "dir":
        (st / "tmp").mkdir()
    else:
        (st / "batch=x").mkdir()
    with pytest.raises(ValueError, match="unexpected entry"):
        read_state(spark, str(st), 1, "v long")


def test_streaming_readers_reject_corrupt_state(spark, tmp_path_factory):
    # the batch-keyed loops read through the store: corrupt state must
    # fail the batch, not restart from zero
    from spatialpandas_spark.streaming.sample import sample_pps_batch
    from spatialpandas_spark.streaming.sequences import sequence_batch
    from spatialpandas_spark.streaming.sketch import sketch_batch

    td = tmp_path_factory.mktemp("stateguard3")
    bad = td / "state"
    bad.mkdir()
    (bad / "part-0000.parquet").write_bytes(b"garbage bytes, no footer")
    docs = spark.createDataFrame(
        [(1, "a b c d e f g", 3, [1, 2])],
        "doc_id long, text string, w long, token_ids array<int>",
    )

    with pytest.raises(ValueError, match="unexpected entry"):
        sketch_batch(spark, docs, str(bad), batch_id=5)
    with pytest.raises(ValueError, match="unexpected entry"):
        sample_pps_batch(spark, docs, str(bad), "w", 2, batch_id=5)
    with pytest.raises(ValueError, match="unexpected entry"):
        sequence_batch(spark, docs, 4, str(bad), batch_id=5)


def test_id_length_guard_raises(spark, tmp_path_factory):
    # streaming/sequences.py: an id of >= 10^8 chars would truncate the
    # 8-digit length prefix — the docstring promises rejection, so the
    # plan must actually raise (previously comment-only)
    from pyspark.sql import functions as F

    from spatialpandas_spark.streaming.sequences import sequence_batch

    td = str(tmp_path_factory.mktemp("idguard"))
    # build the oversized id WITHOUT materializing 10^8 chars in python:
    # repeat() inside the plan
    batch = spark.range(1).select(
        F.repeat(F.lit("x"), 100_000_000).alias("doc_id"),
        F.array(F.lit(1), F.lit(2)).alias("token_ids"),
    )
    with pytest.raises(Exception, match="10\\^8|unsupported"):
        sequence_batch(
            spark, batch, 4, f"{td}/state", batch_id=0
        ).collect()


def test_null_id_guard_names_the_null_id(spark, tmp_path_factory):
    # a null id has no length, so it used to fall through to the
    # length guard and raise "id longer than 10^8-1 chars"
    from spatialpandas_spark.streaming.sequences import sequence_batch

    td = str(tmp_path_factory.mktemp("idguard_null"))
    batch = spark.createDataFrame(
        [(None, [1, 2, 3]), (2, [20, 21, 22])],
        "doc_id long, token_ids array<int>",
    )
    with pytest.raises(Exception, match="requires a non-null doc_id"):
        sequence_batch(spark, batch, 4, f"{td}/state", batch_id=0).collect()


def test_id_length_guard_passes_normal_ids(spark, tmp_path_factory):
    from spatialpandas_spark.streaming.sequences import sequence_batch

    td = str(tmp_path_factory.mktemp("idguard2"))
    batch = spark.createDataFrame(
        [("a" * 500, [1, 2, 3, 4]), ("b", [5, 6, 7, 8])],
        "doc_id string, token_ids array<int>",
    )
    out = sequence_batch(spark, batch, 4, f"{td}/state", batch_id=0)
    assert out.count() == 2
