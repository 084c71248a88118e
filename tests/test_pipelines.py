"""End-to-end pipeline tests: seed → mutate → upsert-sync convergence
(the reference's C1/C2 contract), tarball ingestion (C3), safe_append.
"""

from __future__ import annotations

import csv
import os
import tarfile

import pytest
from pyspark.sql import functions as F

from python_openetl_spark.io import load_table
from python_openetl_spark.operators.merge import PrimaryKeyConflict, safe_append
from python_openetl_spark.plans.pipelines import (
    ParquetTable,
    derive_table_name,
    ingest_tarball,
    seed,
    upsert_sync,
)
from tests.conftest import SF_DIR


def _events_as_source(spark):
    """events with an `updated_at` column (exercises *_at normalization)."""
    ev = load_table(spark, SF_DIR, "events")
    return ev.withColumn("updated_at", F.col("ts")).drop("ts")


def test_seed_snapshot_equality(spark, tmp_path):
    src = _events_as_source(spark)
    table = seed(src, str(tmp_path / "events_tbl"))
    got = table.read(spark)
    assert got.count() == src.count()
    assert set(got.columns) == set(src.columns)
    # re-seed is idempotent (drop+overwrite)
    table2 = seed(src, str(tmp_path / "events_tbl"))
    assert table2.read(spark).count() == src.count()


def test_seed_partitioned_layout(spark, tmp_path):
    src = _events_as_source(spark).withColumn("day", F.date_format("updated_at", "yyyy-MM-dd"))
    table = seed(src, str(tmp_path / "events_part"), partition_by=["day"])
    # partition pruning: directory-per-day layout exists
    days = [d for d in os.listdir(table.path) if d.startswith("day=")]
    assert len(days) == 30
    pruned = table.read(spark).filter(F.col("day") == days[0].split("=")[1])
    assert 0 < pruned.count() < src.count()


def test_upsert_sync_convergence(spark, tmp_path):
    """seed → mutate source (update/insert/delete) → sync → dest == source."""
    src = _events_as_source(spark)
    dest = seed(src, str(tmp_path / "sync_tbl"))

    anchor = "2024-02-05 00:00:00"
    mutated = (
        src.filter(F.col("event_id") % 7 != 0)  # deletes
        .withColumn(
            "value",
            F.when(F.col("event_id") % 3 == 0, F.col("value") + 500.0).otherwise(F.col("value")),
        )
        .withColumn(
            "updated_at",
            F.when(F.col("event_id") % 3 == 0, F.lit(anchor).cast("timestamp")).otherwise(
                F.col("updated_at")
            ),
        )
    )
    new_rows = spark.createDataFrame(
        [(10_001, 99, "signup", 1.0, "{}", anchor)],
        "event_id long, user_id long, event_type string, value double, props string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    mutated = mutated.unionByName(new_rows.select(*mutated.columns))

    metrics = upsert_sync(
        spark, mutated, dest, pk="event_id", ts_col="updated_at",
        anchor=anchor, data_interval_hours=24,
    )
    got = dest.read(spark)
    assert got.count() == mutated.count()
    assert metrics.rows_deleted == src.count() - src.filter(F.col("event_id") % 7 != 0).count()
    assert metrics.rows_added > 0
    # converged: every updated row carries the new value
    joined = got.alias("g").join(mutated.alias("m"), "event_id")
    diff = joined.filter(F.col("g.value") != F.col("m.value")).count()
    assert diff == 0
    assert '"rows_deleted"' in metrics.to_json()


def test_upsert_sync_empty_delta_short_circuit(spark, tmp_path):
    """Empty delta skips the merge (parity with operations.py:703-705)."""
    src = _events_as_source(spark)
    dest = seed(src, str(tmp_path / "noop_tbl"))
    metrics = upsert_sync(
        spark, src, dest, pk="event_id", ts_col="updated_at",
        anchor="2030-01-01 00:00:00", data_interval_hours=1,
    )
    assert metrics.rows_added == 0 and metrics.rows_deleted == 0
    assert dest.read(spark).count() == src.count()


def test_safe_append_conflict_raises(spark):
    target = load_table(spark, SF_DIR, "nation")
    dup = target.limit(1)
    with pytest.raises(PrimaryKeyConflict):
        safe_append(target, dup, "n_nationkey")
    fresh = dup.withColumn("n_nationkey", F.col("n_nationkey") + 1000)
    appended = safe_append(target, fresh, "n_nationkey")
    assert appended.count() == target.count() + 1


def test_derive_table_name():
    # f"cb_{name.split('.')[0]}" rule (operations.py:671)
    assert derive_table_name("organizations.csv") == "cb_organizations"
    assert derive_table_name("path/to/funding_rounds.csv.gz") == "cb_funding_rounds"


def test_ingest_tarball(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    for name, rows in {
        "organizations": [("id", "name", "founded_at"), (1, "acme", "2020-01-02 03:04:05"), (2, "beta", "not-a-date")],
        "people": [("id", "name"), (1, "ada")],
        "ignored": [("id",), (1,)],
    }.items():
        with open(raw / f"{name}.csv", "w", newline="") as f:
            csv.writer(f).writerows(rows)
    tar_path = tmp_path / "bulk.tar.gz"
    with tarfile.open(tar_path, "w:gz") as tf:
        for name in ("organizations", "people", "ignored"):
            tf.add(raw / f"{name}.csv", arcname=f"{name}.csv")

    tables = ingest_tarball(
        spark, str(tar_path), str(tmp_path / "out"),
        allowlist={"cb_organizations", "cb_people"},
    )
    assert set(tables) == {"cb_organizations", "cb_people"}
    orgs = tables["cb_organizations"].read(spark).orderBy("id").collect()
    assert len(orgs) == 2
    # *_at column was timestamp-coerced; unparseable → NULL (R11)
    assert orgs[0]["founded_at"] is not None and orgs[1]["founded_at"] is None


def test_ingest_tarball_colliding_member_names_last_wins(spark, tmp_path):
    # Two members that derive the SAME table name (2024/users.csv vs
    # 2025/users.csv) must not race the pool into concurrent overwrite()
    # calls on one destination: they dedupe to the last walk-order
    # occurrence (deterministic: dirs sorted), matching the sequential
    # loop's last-wins outcome.
    raw = tmp_path / "raw"
    for year, rows in (
        ("2024", [("id", "val"), (1, "old")]),
        ("2025", [("id", "val"), (1, "new"), (2, "new2")]),
    ):
        d = raw / year
        d.mkdir(parents=True)
        with open(d / "users.csv", "w", newline="") as f:
            csv.writer(f).writerows(rows)
    tar_path = tmp_path / "bulk.tar"
    with tarfile.open(tar_path, "w") as tf:
        for year in ("2024", "2025"):
            tf.add(raw / year / "users.csv", arcname=f"{year}/users.csv")

    tables = ingest_tarball(spark, str(tar_path), str(tmp_path / "out"))
    assert set(tables) == {"cb_users"}
    got = tables["cb_users"].read(spark).orderBy("id").collect()
    # 2025 sorts after 2024 in walk order -> its rows win
    assert [(r["id"], r["val"]) for r in got] == [(1, "new"), (2, "new2")]
    # no .bak / staging leftovers from a racing swap
    leftovers = [
        p for p in (tmp_path / "out").rglob("*")
        if ".bak" in p.name or ".staging" in p.name
    ]
    assert leftovers == []


def test_parquet_table_overwrite_empty_partitioned_keeps_schema(spark, tmp_path):
    """A 0-row partitioned publish must still leave a readable table:
    Spark's partitioned writer emits no data files for empty input, so
    overwrite() appends a schema-carrying empty root file (hostile
    empty-fixture finding via k04)."""
    from pyspark.sql import functions as F

    from python_openetl_spark.plans.pipelines import ParquetTable

    df = spark.createDataFrame([], "id long, status string, price double")
    table = ParquetTable(str(tmp_path / "empty_part"))
    table.overwrite(df, partition_by=["status"])
    back = table.read(spark)
    assert back.count() == 0
    assert set(back.columns) == {"id", "status", "price"}
    # and a later non-empty publish over it still works
    table.overwrite(
        spark.createDataFrame([(1, "F", 2.0)], "id long, status string, price double"),
        partition_by=["status"],
    )
    assert table.read(spark).count() == 1


def test_overwrite_where_replaces_only_matching_slice(spark, tmp_path):
    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, status string, price double"
    table = ParquetTable(str(tmp_path / "ow"))
    table.overwrite(
        spark.createDataFrame(
            [(1, "F", 1.0), (2, "F", 2.0), (3, "O", 3.0), (4, "P", 4.0)], schema
        ),
        partition_by=["status"],
    )
    table.overwrite_where(
        spark.createDataFrame([(9, "F", 9.0)], schema),
        "status = 'F'",
        partition_by=["status"],
    )
    got = {(r.id, r.status, r.price) for r in table.read(spark).collect()}
    assert got == {(9, "F", 9.0), (3, "O", 3.0), (4, "P", 4.0)}
    # an empty replacement deletes the slice
    table.overwrite_where(
        spark.createDataFrame([], schema), "status = 'O'", partition_by=["status"]
    )
    assert {r.status for r in table.read(spark).collect()} == {"F", "P"}


def test_overwrite_where_validates_replacement_rows(spark, tmp_path):
    import pytest as _pytest

    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, status string, price double"
    table = ParquetTable(str(tmp_path / "owv"))
    table.overwrite(spark.createDataFrame([(1, "F", 1.0)], schema))
    with _pytest.raises(ValueError, match="violate predicate"):
        table.overwrite_where(
            spark.createDataFrame([(2, "O", 2.0)], schema), "status = 'F'"
        )
    # table unchanged after the rejected write
    assert [r.id for r in table.read(spark).collect()] == [1]
    # fresh-create path: predicate overwrite on a non-existent table
    t2 = ParquetTable(str(tmp_path / "ow_new"))
    t2.overwrite_where(spark.createDataFrame([(5, "F", 5.0)], schema), "status = 'F'")
    assert t2.read(spark).count() == 1


def _file_hashes(root):
    import hashlib
    import os as _os

    out = {}
    for d, _s, files in _os.walk(root):
        for name in files:
            p = _os.path.join(d, name)
            with open(p, "rb") as fh:
                out[_os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def test_overwrite_where_dynamic_leaves_untouched_partitions_byte_identical(
    spark, tmp_path
):
    """Partition-only predicate on a partitioned layout takes the
    dynamic path: untouched partition FILES are not rewritten at all
    (byte-identical on disk), and cost scales with the replaced slice."""
    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, status string, price double"
    table = ParquetTable(str(tmp_path / "dyn"))
    table.overwrite(
        spark.createDataFrame(
            [(1, "F", 1.0), (2, "F", 2.0), (3, "O", 3.0), (4, "P", 4.0)], schema
        ),
        partition_by=["status"],
    )
    before = _file_hashes(table.path)
    table.overwrite_where(
        spark.createDataFrame([(9, "F", 9.0)], schema),
        "status = 'F'",
        partition_by=["status"],
    )
    after = _file_hashes(table.path)
    untouched_before = {k: v for k, v in before.items() if not k.startswith("status=F")}
    untouched_after = {k: v for k, v in after.items() if not k.startswith("status=F")}
    assert untouched_before == untouched_after  # nothing else rewritten
    assert {k for k in after if k.startswith("status=F")} != {
        k for k in before if k.startswith("status=F")
    } or before != after
    got = {(r.id, r.price) for r in table.read(spark).filter("status = 'F'").collect()}
    assert got == {(9, 9.0)}


def test_overwrite_where_data_column_predicate_falls_back(spark, tmp_path):
    """A predicate touching a DATA column can't be partition-pruned:
    falls back to the full staged rewrite, same semantics."""
    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, status string, price double"
    table = ParquetTable(str(tmp_path / "fb"))
    table.overwrite(
        spark.createDataFrame(
            [(1, "F", 1.0), (2, "F", 2.0), (3, "O", 3.0)], schema
        ),
        partition_by=["status"],
    )
    table.overwrite_where(
        spark.createDataFrame([(9, "F", 9.5)], schema),
        "status = 'F' AND price > 1.5",
        partition_by=["status"],
    )
    got = {(r.id, r.status, r.price) for r in table.read(spark).collect()}
    assert got == {(1, "F", 1.0), (9, "F", 9.5), (3, "O", 3.0)}


def test_overwrite_where_dynamic_multilevel_and_typed_values(spark, tmp_path):
    """Two-level partitioning with a non-string partition column: the
    directory-name parse casts back to the int type so the predicate
    evaluates with Spark semantics."""
    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, yr int, status string, v double"
    table = ParquetTable(str(tmp_path / "ml"))
    table.overwrite(
        spark.createDataFrame(
            [
                (1, 2023, "F", 1.0),
                (2, 2023, "O", 2.0),
                (3, 2024, "F", 3.0),
                (4, 2024, "O", 4.0),
            ],
            schema,
        ),
        partition_by=["yr", "status"],
    )
    before = _file_hashes(table.path)
    table.overwrite_where(
        spark.createDataFrame([(9, 2024, "F", 9.0)], schema),
        "yr = 2024 AND status = 'F'",
        partition_by=["yr", "status"],
    )
    after = _file_hashes(table.path)
    pre = "yr=2024/status=F"
    assert {k: v for k, v in before.items() if not k.startswith(pre)} == {
        k: v for k, v in after.items() if not k.startswith(pre)
    }
    got = {(r.id, r.yr, r.status, r.v) for r in table.read(spark).collect()}
    assert got == {
        (1, 2023, "F", 1.0),
        (2, 2023, "O", 2.0),
        (9, 2024, "F", 9.0),
        (4, 2024, "O", 4.0),
    }


def test_overwrite_where_dynamic_escaped_partition_values(spark, tmp_path):
    """Partition values hive-escaped on disk (':' -> %3A) still clear
    and replace correctly — the clear side reuses directory names
    instead of re-deriving escaped paths."""
    from python_openetl_spark.plans.pipelines import ParquetTable

    schema = "id long, k string, v double"
    table = ParquetTable(str(tmp_path / "esc"))
    table.overwrite(
        spark.createDataFrame([(1, "a:b", 1.0), (2, "plain", 2.0)], schema),
        partition_by=["k"],
    )
    table.overwrite_where(
        spark.createDataFrame([(9, "a:b", 9.0)], schema),
        "k = 'a:b'",
        partition_by=["k"],
    )
    got = {(r.id, r.k, r.v) for r in table.read(spark).collect()}
    assert got == {(9, "a:b", 9.0), (2, "plain", 2.0)}


def test_k09_plan_contains_dynamic_pruning(spark):
    """The k09 join must actually inject a DPP subquery — without it
    the fact scan reads every partition and the verb proves nothing."""
    from python_openetl_spark.workload.sinks_io import (
        k09_dynamic_partition_pruned_join,
    )
    from tests.conftest import SF_DIR

    df = k09_dynamic_partition_pruned_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_overwrite_where_null_predicate_rows_survive(spark, tmp_path):
    """r10 review: rows where the predicate evaluates NULL do not MATCH
    it, so they must be KEPT by the rewrite (NOT(pred) alone drops
    them) — and a NULL-evaluating replacement row must fail validate."""
    import pytest as _pytest

    from python_openetl_spark.plans.pipelines import ParquetTable

    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 3)], "id long, x long"
        )
    )
    repl = spark.createDataFrame([(9, 99)], "id long, x long")
    t.overwrite_where(repl, "x > 5")
    got = sorted((r["id"], r["x"]) for r in t.read(spark).collect())
    # id=1 (x=10) replaced away; id=2 (x NULL) and id=3 (x=3) KEPT
    assert got == [(2, None), (3, 3), (9, 99)]
    with _pytest.raises(ValueError, match="violate predicate"):
        t.overwrite_where(
            spark.createDataFrame([(8, None)], "id long, x long"), "x > 5"
        )


def test_overwrite_where_layout_mismatch_takes_full_rewrite(spark, tmp_path):
    """r10 review: a partition_by DEEPER than the on-disk layout must
    not take the dynamic path (clears nothing, nests mismatched dirs);
    it now falls through to the atomic full rewrite, which replaces
    the layout wholesale and still removes predicate-matching rows."""
    from pyspark.sql import functions as F

    from python_openetl_spark.plans.pipelines import ParquetTable

    t = ParquetTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [("F", "eu", 1), ("F", "us", 2), ("O", "eu", 3)],
        "status string, region string, id long",
    )
    t.overwrite(base, partition_by=["status"])
    repl = spark.createDataFrame(
        [("F", "ap", 9)], "status string, region string, id long"
    )
    t.overwrite_where(repl, "status = 'F'", partition_by=["status", "region"])
    got = t.read(spark)
    rows = sorted((r["status"], r["region"], r["id"]) for r in got.collect())
    # old status=F rows really replaced; O partition intact
    assert rows == [("F", "ap", 9), ("O", "eu", 3)]
    # and the table now reads cleanly under the NEW two-level layout
    assert got.filter(F.col("region") == "ap").count() == 1


def test_seed_and_upsert_sync_versioned_optimistic_concurrency(spark, tmp_path):
    """r12 (r11 verdict #6): the C1/C2 verbs are concurrency-safe
    end-to-end on the engine's own versioned format — seed publishes a
    version via the atomic pointer, upsert_sync merges against the
    snapshot it binds at entry and publishes with
    commit(expected_version=...): a racer's commit in between raises
    ConcurrentCommitError, and a retry from the fresh table converges
    without undoing the racer's rows."""
    from python_openetl_spark.plans.versioned import (
        ConcurrentCommitError,
        VersionedTable,
    )

    src = _events_as_source(spark)
    vt = VersionedTable(str(tmp_path / "sync_versioned"))
    seed(src, vt)
    assert vt.current_version() == 1

    anchor = "2024-02-05 00:00:00"
    new_row = spark.createDataFrame(
        [(10_001, 99, "signup", 1.0, "{}", anchor)],
        "event_id long, user_id long, event_type string, value double, "
        "props string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    source2 = src.unionByName(new_row.select(*src.columns))

    # happy path: merge base = snapshot at entry, publish = CAS commit
    metrics = upsert_sync(
        spark, source2, vt, pk="event_id", ts_col="updated_at",
        anchor=anchor, data_interval_hours=24,
    )
    assert metrics.rows_added == 1
    assert vt.current_version() == 2
    assert vt.read(spark).count() == src.count() + 1

    # stale snapshot: a racer commits AFTER this writer read version 2
    stale_base = vt.current_version()
    racer_row = spark.createDataFrame(
        [(10_002, 98, "click", 2.0, "{}", anchor)],
        "event_id long, user_id long, event_type string, value double, "
        "props string, updated_at string",
    ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
    vt.commit(vt.read(spark).unionByName(racer_row.select(*src.columns)))
    assert vt.current_version() == 3

    source3 = source2.unionByName(racer_row.select(*src.columns)).unionByName(
        spark.createDataFrame(
            [(10_003, 97, "view", 3.0, "{}", anchor)],
            "event_id long, user_id long, event_type string, value double, "
            "props string, updated_at string",
        ).withColumn("updated_at", F.col("updated_at").cast("timestamp"))
        .select(*src.columns)
    )
    with pytest.raises(ConcurrentCommitError):
        upsert_sync(
            spark, source3, vt, pk="event_id", ts_col="updated_at",
            anchor=anchor, data_interval_hours=24,
            expected_version=stale_base,
        )
    assert vt.current_version() == 3  # racer's publish untouched

    # the Delta conflict loop: retry against the fresh table converges
    metrics = upsert_sync(
        spark, source3, vt, pk="event_id", ts_col="updated_at",
        anchor=anchor, data_interval_hours=24,
    )
    assert vt.current_version() == 4
    got = vt.read(spark)
    assert got.count() == src.count() + 3  # racer's row survived
    assert got.filter(F.col("event_id").isin(10_001, 10_002, 10_003)).count() == 3


def test_expected_version_on_swap_path_raises(spark, tmp_path):
    """expected_version against a plain ParquetTable dest must fail loud
    (the swap protocol has no version to compare), never silently drop
    the caller's concurrency expectation."""
    src = _events_as_source(spark)
    dest = seed(src, str(tmp_path / "swap_tbl"))
    with pytest.raises(ValueError, match="VersionedTable"):
        seed(src, dest, expected_version=1)
    with pytest.raises(ValueError, match="VersionedTable"):
        upsert_sync(
            spark, src, dest, pk="event_id", ts_col="updated_at",
            anchor="2024-02-05 00:00:00", expected_version=1,
        )


_SYNC_SCHEMA = "id long, v long, w string, updated_at timestamp"
_SYNC_ANCHOR = "2024-01-01 12:00:00"


def _random_sync_frames(spark, seed):
    """Seeded target/source pair with duplicate pks on both sides, null
    pks, null timestamps, ts ties and full-row duplicates."""
    import datetime as dt
    import random

    rng = random.Random(seed)
    anchor = dt.datetime(2024, 1, 1, 12)

    def ts(fresh):
        if rng.random() < 0.1:
            return None
        hours = rng.choice([0.25, 0.5]) if fresh else rng.choice([3, 30])
        return anchor - dt.timedelta(hours=hours)

    def pk(lo, hi):
        return None if rng.random() < 0.08 else rng.randrange(lo, hi)

    def row(lo, hi, fresh):
        return (pk(lo, hi), rng.randrange(3), rng.choice(["a", "b"]), ts(fresh))

    target = [row(0, 16, False) for _ in range(24)]
    source = [row(6, 24, rng.random() < 0.4) for _ in range(28)]
    source += source[:3]  # full-row ties
    return (
        spark.createDataFrame(target, _SYNC_SCHEMA),
        spark.createDataFrame(source, _SYNC_SCHEMA),
    )


def _sorted_rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("versioned", [False, True], ids=["parquet", "versioned"])
@pytest.mark.parametrize("propagate", [True, False], ids=["propagate", "keep"])
def test_upsert_sync_matches_operator_oracle(spark, tmp_path, versioned, propagate):
    """The one-action verb publishes exactly what the pure operators
    compute (temporal_delta → merge_upsert → propagate_deletes) and
    reports their row counts, on messy seeded inputs."""
    from python_openetl_spark.operators.merge import (
        merge_upsert,
        propagate_deletes,
        temporal_delta,
    )
    from python_openetl_spark.plans.versioned import VersionedTable

    trials = [_random_sync_frames(spark, seed_) for seed_ in range(2)]
    # an emptied source deletes every row (Spark prunes plan subtrees
    # joined to an empty side, observed metrics included)
    trials.append((trials[0][0], trials[0][1].limit(0)))
    for i, (target, source) in enumerate(trials):
        delta = temporal_delta(source, "updated_at", _SYNC_ANCHOR, 1)
        want = merge_upsert(target, delta, "id", order_col="updated_at")
        want_deleted = 0
        if propagate:
            want, deleted_keys = propagate_deletes(want, source, "id")
            want_deleted = deleted_keys.count()
        want_rows, want_added = _sorted_rows(want), delta.count()

        path = str(tmp_path / f"t{i}")
        dest = seed(target, VersionedTable(path) if versioned else path, normalize=False)
        metrics = upsert_sync(
            spark, source, dest, pk="id", anchor=_SYNC_ANCHOR, propagate=propagate
        )
        assert (metrics.rows_added, metrics.rows_deleted) == (want_added, want_deleted)
        assert _sorted_rows(dest.read(spark)) == want_rows


def _listing(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _sub, files in os.walk(path)
        for f in files
    )


def test_upsert_sync_no_change_leaves_tables_untouched(spark, tmp_path):
    """An empty delta with nothing to delete publishes nothing: the
    ParquetTable's files and the VersionedTable's version are as they
    were, and no staging directory is left beside or inside either."""
    from python_openetl_spark.plans.versioned import VersionedTable

    src = _events_as_source(spark)
    plain = seed(src, str(tmp_path / "plain"))
    vt = VersionedTable(str(tmp_path / "versioned"))
    seed(src, vt)
    before = {t: _listing(t) for t in (plain.path, vt.path)}
    beside = sorted(os.listdir(tmp_path))

    for dest in (plain, vt):
        metrics = upsert_sync(
            spark, src, dest, pk="event_id", ts_col="updated_at",
            anchor="2030-01-01 00:00:00", data_interval_hours=1,
        )
        assert metrics.rows_added == 0 and metrics.rows_deleted == 0

    assert {t: _listing(t) for t in (plain.path, vt.path)} == before
    assert sorted(os.listdir(tmp_path)) == beside
    assert vt.current_version() == 1 and vt.versions() == [1]


def test_overwrite_failure_leaves_table_and_no_staging(spark, tmp_path):
    """A failing write job leaves the published table as it was and
    removes its staging directory."""
    t = ParquetTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5))
    before = _listing(t.path)
    bad = spark.range(5).withColumn("ok", F.assert_true(F.col("id") < 3))
    with pytest.raises(Exception, match="id"):
        t.overwrite(bad)
    assert _listing(t.path) == before
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    assert os.listdir(tmp_path) == ["t"]


def test_upsert_sync_job_count(spark, tmp_path):
    """upsert_sync runs its merge, delete propagation and report as one
    write: a guard against count() actions creeping back in. The old
    count-then-write sequence took 13-14 jobs on this shape."""
    sc = spark.sparkContext
    base = spark.range(400).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("updated_at"),
    )
    base.write.parquet(str(tmp_path / "snap"))
    dest = seed(spark.read.parquet(str(tmp_path / "snap")), str(tmp_path / "t"))
    changed = base.filter(F.col("id") >= 4).withColumn(
        "updated_at",
        F.when(F.col("id") % 50 == 0, F.lit(_SYNC_ANCHOR).cast("timestamp"))
        .otherwise(F.col("updated_at")),
    )
    changed.write.parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))

    group = f"upsert-sync-jobs-{os.getpid()}"
    sc.setJobGroup(group, "upsert_sync job-count guard")
    try:
        metrics = upsert_sync(spark, src, dest, pk="id", anchor=_SYNC_ANCHOR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert (metrics.rows_added, metrics.rows_deleted) == (7, 4)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 7
