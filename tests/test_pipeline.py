"""Pipeline-property tests — the reference's Tier A infra behaviors
(SURVEY §2 A5/A13/A14/A15/A17, §5): skip-on-missing-column,
archive-on-success, empty-input no-op, idempotent replay, null round-trip,
exact value enrichment.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from simple_data_engineering_project_spark.pipeline import (
    enrich,
    generate_cocoa_data,
    land_csv_files,
    run_batch_pipeline,
)
from simple_data_engineering_project_spark.sources import list_files

TS = "2024-06-01 00:00:00"


@pytest.fixture()
def dirs(tmp_path):
    base = str(tmp_path)
    yield {
        "landing": f"{base}/landing",
        "staging": f"{base}/staging",
        "warehouse": f"{base}/warehouse",
        "archive": f"{base}/archive",
    }
    shutil.rmtree(base, ignore_errors=True)


def _run(spark, dirs, keep_history=False):
    return run_batch_pipeline(
        spark,
        landing_dir=dirs["landing"],
        staging_dir=dirs["staging"],
        warehouse_dir=dirs["warehouse"],
        archive_dir=dirs["archive"],
        deterministic_ts=TS,
        keep_history=keep_history,
    )


def test_empty_landing_is_noop(spark, dirs):
    # A15 (dag.py:70-72): zero CSVs → short-circuit, nothing written
    res = _run(spark, dirs)
    assert res.processed_files == []
    assert res.warehouse_rows == 0


def test_happy_path_processes_and_archives(spark, dirs):
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=500)
    res = _run(spark, dirs)
    assert len(res.processed_files) == 2
    assert res.warehouse_rows == 1000
    # A14: processed files moved out of landing into archive
    assert list_files(spark, dirs["landing"], ".csv") == []
    assert len(list_files(spark, dirs["archive"], ".csv")) == 2
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    assert wh.count() == 1000
    # enrichment landed: value = round(weight * 2.5, 2), never null
    bad = wh.filter(
        F.col("shipment_value_usd")
        != F.round(F.col("shipment_weight_kg") * 2.5, 2)
    ).count()
    assert bad == 0


def test_missing_column_file_skipped_not_archived(spark, dirs, tmp_path):
    # A5 (dag.py:186-190): a file without a required column is skipped
    # whole and left in landing for re-scan (never archived)
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=300)
    bad_path = f"{dirs['landing']}/bad_missing_quality.csv"
    with open(bad_path, "w") as f:
        f.write("shipment_id,timestamp,farm_id,region,bean_type,shipment_weight_kg,temperature_celsius\n")
        f.write("x1,2024-01-01T00:00:00,FARM-1,Volta,Criollo,1000,20.0\n")
    res = _run(spark, dirs)
    assert [p.rsplit("/", 1)[-1] for p in res.skipped_files] == [
        "bad_missing_quality.csv"
    ]
    assert res.warehouse_rows == 300
    # the bad file is still in landing; the good one is archived
    remaining = list_files(spark, dirs["landing"], ".csv")
    assert [p.rsplit("/", 1)[-1] for p in remaining] == ["bad_missing_quality.csv"]


def test_validate_header_empty_and_valid_files(spark, tmp_path):
    """The driver-side FS readLine probe (round-15: replaced one Spark
    job per file) keeps the old semantics: empty file → invalid with
    every required column reported missing; a valid header → valid."""
    from simple_data_engineering_project_spark.pipeline import (
        REQUIRED_COCOA_COLUMNS,
        validate_header,
    )

    empty = tmp_path / "empty.csv"
    empty.write_text("")
    ok, missing = validate_header(spark, str(empty))
    assert not ok and missing == set(REQUIRED_COCOA_COLUMNS)

    good = tmp_path / "good.csv"
    good.write_text(",".join(sorted(REQUIRED_COCOA_COLUMNS)) + "\n1,2\n")
    ok, missing = validate_header(spark, str(good))
    assert ok and missing == set()

    gone = tmp_path / "missing.csv"
    ok, missing = validate_header(spark, str(gone))
    assert not ok and missing == set(REQUIRED_COCOA_COLUMNS)


def test_replay_is_idempotent_upsert(spark, dirs):
    # A13 (dag.py:223-237, README:31): re-loading the same keys leaves the
    # warehouse unchanged; updated rows win on conflict
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=400, seed=7)
    _run(spark, dirs)
    wh1 = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    total1 = wh1.count()
    sum1 = wh1.agg(F.sum("shipment_value_usd")).collect()[0][0]

    # land the SAME data again (same seed → same shipment_ids)
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=400, seed=7)
    _run(spark, dirs)
    wh2 = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    assert wh2.count() == total1
    assert wh2.agg(F.sum("shipment_value_usd")).collect()[0][0] == sum1


def test_update_wins_on_conflict(spark, dirs):
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=100, seed=3)
    _run(spark, dirs)
    # hand-craft an update file reusing an existing shipment_id
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    sid = wh.orderBy("shipment_id").first()["shipment_id"]
    upd = f"{dirs['landing']}/update.csv"
    with open(upd, "w") as f:
        f.write(
            "shipment_id,timestamp,farm_id,region,bean_type,quality_score,"
            "shipment_weight_kg,temperature_celsius\n"
        )
        f.write(f"{sid},2024-01-01T00:00:00,FARM-999,Volta,Criollo,9.99,2000,21.5\n")
    _run(spark, dirs)
    wh2 = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    assert wh2.count() == 100  # no duplicate key
    row = wh2.filter(F.col("shipment_id") == sid).collect()[0]
    assert row["farm_id"] == "FARM-999"
    assert row["shipment_value_usd"] == 5000.0  # 2000 * 2.5


def _partition_file_hashes(warehouse_dir: str) -> dict[str, str]:
    """{relative file path: sha256} for every data file in the warehouse."""
    import hashlib
    import os

    root = f"{warehouse_dir}/cocoa_shipments"
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.startswith(("_", ".")):
                continue  # _SUCCESS / CRC bookkeeping
            p = os.path.join(dirpath, fn)
            rel = os.path.relpath(p, root)
            out[rel] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return out


def test_merge_rewrites_only_affected_partitions(spark, dirs):
    # Scale contract: the warehouse merge is partition-scoped — a batch
    # touching one month must leave every other month's files
    # byte-identical (the 100 TB analogue of the reference's row-scoped
    # ON CONFLICT DO UPDATE, dag.py:223-237).
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=500, seed=5)
    res1 = _run(spark, dirs)
    assert res1.rewritten_partitions == ["*"]  # initial full write
    before = _partition_file_hashes(dirs["warehouse"])
    assert len({p.split("/")[0] for p in before}) > 3  # several months exist

    # craft an update that stays inside its original month
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    row = wh.orderBy("shipment_id").first()
    month = row["timestamp"].strftime("%Y-%m")
    ts = row["timestamp"].strftime("%Y-%m-%dT%H:%M:%S")
    with open(f"{dirs['landing']}/update.csv", "w") as f:
        f.write(
            "shipment_id,timestamp,farm_id,region,bean_type,quality_score,"
            "shipment_weight_kg,temperature_celsius\n"
        )
        f.write(f"{row['shipment_id']},{ts},FARM-777,Volta,Criollo,9.0,1234,20.0\n")
    res2 = _run(spark, dirs)
    assert res2.rewritten_partitions == [month]

    after = _partition_file_hashes(dirs["warehouse"])
    changed_months = {
        p.split("/")[0]
        for p in set(before) ^ set(after)
        | {p for p in set(before) & set(after) if before[p] != after[p]}
    }
    assert changed_months == {f"load_month={month}"}
    # and the merge is still correct: no duplicate key, update won
    wh2 = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    assert wh2.count() == 1000
    # the count of a merge with untouched months: rows written plus the
    # untouched months' rows
    assert res2.warehouse_rows == 1000
    assert res2.rows_upserted == 1
    upd = wh2.filter(F.col("shipment_id") == row["shipment_id"]).collect()[0]
    assert upd["farm_id"] == "FARM-777"


def test_warehouse_scan_prunes_partitions(spark, dirs):
    # the month layout must actually buy partition pruning: a month-
    # filtered scan shows a PartitionFilters entry on load_month in the
    # physical plan (at 100 TB this is the difference between reading
    # one month and reading the table)
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=500, seed=13)
    _run(spark, dirs)
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    month = wh.select("load_month").first()["load_month"]
    plan = (
        wh.filter(F.col("load_month") == month)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "load_month" in plan.split("PartitionFilters", 1)[1][:200]


def test_merge_deletes_stale_copy_when_key_changes_month(spark, dirs):
    # an update that MOVES a key to a different month must delete the old
    # month's copy (cross-partition key movement), not just add the new one
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=200, seed=9)
    _run(spark, dirs)
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    row = wh.orderBy("shipment_id").first()
    old_month = row["timestamp"].strftime("%Y-%m")
    new_ts, new_month = "2030-07-01T00:00:00", "2030-07"
    assert old_month != new_month
    with open(f"{dirs['landing']}/move.csv", "w") as f:
        f.write(
            "shipment_id,timestamp,farm_id,region,bean_type,quality_score,"
            "shipment_weight_kg,temperature_celsius\n"
        )
        f.write(f"{row['shipment_id']},{new_ts},FARM-1,Volta,Criollo,8.0,1000,20.0\n")
    res = _run(spark, dirs)
    assert set(res.rewritten_partitions) == {old_month, new_month}
    wh2 = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    assert wh2.count() == 200  # no duplicate key across months
    assert (
        wh2.filter(F.col("shipment_id") == row["shipment_id"])
        .collect()[0]["load_month"]
        == new_month
    )


def test_null_temperature_roundtrip(spark, dirs):
    # SURVEY §1.4: 10% null temperature must survive CSV → parquet →
    # warehouse as real NULLs (empty CSV fields), and aggregates skip them
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=2000, seed=11)
    _run(spark, dirs)
    wh = spark.read.parquet(f"{dirs['warehouse']}/cocoa_shipments")
    n_null = wh.filter(F.col("temperature_celsius").isNull()).count()
    assert 100 < n_null < 400  # ~10% of 2000
    avg = wh.agg(F.avg("temperature_celsius")).collect()[0][0]
    assert 18.0 <= avg <= 25.0  # null-skipping average stays in domain


def test_enrich_rounding_boundary(spark):
    # SURVEY §1.4: integral weight × 2.50 has ≤1 decimal → round(…,2) is
    # an identity; pin the exact boundary the reference silently relies on
    df = spark.createDataFrame(
        [("a", 501.0), ("b", 4999.0)], "shipment_id string, shipment_weight_kg double"
    )
    out = {r["shipment_id"]: r["shipment_value_usd"] for r in enrich(df, TS).collect()}
    assert out == {"a": 1252.5, "b": 12497.5}


def test_generator_domains(spark):
    # A16 domains (generate_data.py:29-43): deterministic given seed
    df = generate_cocoa_data(spark, 5000, seed=42)
    row = df.agg(
        F.min("quality_score"), F.max("quality_score"),
        F.min("shipment_weight_kg"), F.max("shipment_weight_kg"),
        F.countDistinct("shipment_id"),
    ).collect()[0]
    assert 7.5 <= row[0] and row[1] <= 9.8
    assert 500 <= row[2] and row[3] <= 5000
    assert row[4] == 5000  # ids unique
    a = df.agg(F.sum("shipment_weight_kg")).collect()[0][0]
    b = generate_cocoa_data(spark, 5000, seed=42).agg(
        F.sum("shipment_weight_kg")
    ).collect()[0][0]
    assert a == b  # deterministic


def _run_hist(spark, dirs, seed):
    land_csv_files(
        spark, dirs["landing"], num_files=1, rows_per_file=400, seed=seed
    )
    return run_batch_pipeline(
        spark,
        landing_dir=dirs["landing"],
        staging_dir=dirs["staging"],
        warehouse_dir=dirs["warehouse"],
        archive_dir=dirs["archive"],
        deterministic_ts=TS,
        keep_history=True,
    )


def _snapshot_of(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def _snapshot(spark, dirs):
    from simple_data_engineering_project_spark.sources import scan_parquet

    return _snapshot_of(
        scan_parquet(spark, f"{dirs['warehouse']}/cocoa_shipments")
    )


def test_time_travel_reconstructs_every_snapshot(spark, dirs):
    from simple_data_engineering_project_spark.pipeline import (
        read_warehouse_version,
    )

    snaps = []
    for v, seed in enumerate([42, 99, 7]):
        res = _run_hist(spark, dirs, seed)
        assert res.version == v
        snaps.append(_snapshot(spark, dirs))
    # live state is the last snapshot; every older version reconstructs
    # byte-equal from live + history partitions
    for v, want in enumerate(snaps):
        df = read_warehouse_version(spark, dirs["warehouse"], v)
        got = sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
        assert got == want, f"version {v} mismatch"
    # distinct seeds really changed the table between snapshots
    assert snaps[0] != snaps[1] != snaps[2]


def test_compaction_keeps_the_month_layout_and_every_snapshot(spark, dirs):
    # compacting a history-keeping warehouse rewrites each month in
    # place: the month directories stay, every snapshot still
    # reconstructs as before, and the next merge rewrites only its months
    import os

    from simple_data_engineering_project_spark.pipeline import (
        compact_small_files,
        read_warehouse_version,
    )

    for seed in [42, 99, 7]:
        _run_hist(spark, dirs, seed)
    table = f"{dirs['warehouse']}/cocoa_shipments"
    months = sorted(n for n in os.listdir(table) if n.startswith("load_month="))
    versions = [
        _snapshot_of(read_warehouse_version(spark, dirs["warehouse"], v))
        for v in range(3)
    ]

    n_files = compact_small_files(spark, table)
    names = os.listdir(table)
    assert sorted(n for n in names if n.startswith("load_month=")) == months
    assert not any(n.endswith(".parquet") for n in names)
    assert n_files == len(months)
    for v, want in enumerate(versions):
        got = read_warehouse_version(spark, dirs["warehouse"], v)
        assert _snapshot_of(got) == want, f"version {v} mismatch"
    assert sorted(os.listdir(dirs["warehouse"])) == ["_history", "cocoa_shipments"]

    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=5, seed=8)
    res = _run(spark, dirs, keep_history=True)
    assert "*" not in res.rewritten_partitions
    assert len(res.rewritten_partitions) < len(months)


def test_time_travel_rejects_out_of_range(spark, dirs):
    from simple_data_engineering_project_spark.pipeline import (
        read_warehouse_version,
    )

    _run_hist(spark, dirs, 42)
    with pytest.raises(ValueError):
        read_warehouse_version(spark, dirs["warehouse"], 1)
    with pytest.raises(ValueError):
        read_warehouse_version(spark, dirs["warehouse"], -1)


def test_history_off_keeps_layout_manifest_free(spark, dirs):
    import os

    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=200)
    res = _run(spark, dirs)
    assert res.version is None
    assert not os.path.exists(f"{dirs['warehouse']}/_history")


def test_rollback_restores_and_preserves_history(spark, dirs):
    from simple_data_engineering_project_spark.pipeline import (
        read_warehouse_version,
        rollback_warehouse,
    )

    snaps = []
    for seed in [42, 99, 7]:
        _run_hist(spark, dirs, seed)
        snaps.append(_snapshot(spark, dirs))
    new_v = rollback_warehouse(spark, dirs["warehouse"], 0)
    assert new_v == 3
    # live table is back to snapshot 0
    assert _snapshot(spark, dirs) == snaps[0]
    # every pre-rollback version still reconstructs (resolution threads
    # through the rollback's __full__ horizon), and so does the rollback
    for v, want in [(0, snaps[0]), (1, snaps[1]), (2, snaps[2]), (3, snaps[0])]:
        df = read_warehouse_version(spark, dirs["warehouse"], v)
        got = sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
        assert got == want, f"version {v} mismatch after rollback"


def test_expire_history_bounds_retention(spark, dirs):
    from simple_data_engineering_project_spark.pipeline import (
        expire_history,
        read_warehouse_version,
    )

    snaps = []
    for seed in [42, 99, 7]:
        _run_hist(spark, dirs, seed)
        snaps.append(_snapshot(spark, dirs))
    assert expire_history(spark, dirs["warehouse"], keep_last=2) == [0]
    with pytest.raises(ValueError):
        read_warehouse_version(spark, dirs["warehouse"], 0)
    for v in (1, 2):
        df = read_warehouse_version(spark, dirs["warehouse"], v)
        got = sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())
        assert got == snaps[v]


def test_land_csv_lines_match_jvm_writer(spark, dirs, tmp_path):
    # round-16: land_csv_files formats CSV lines itself (full-width
    # formatting before the one-file-per-object exchange). Pin byte
    # parity of every line against Spark's own uniVocity CSV writer on
    # the identical frame — header included — so a divergence in double
    # rendering, timestamp formatting, or null handling fails loudly.
    df = generate_cocoa_data(spark, 200, seed=11)
    jvm_dir = str(tmp_path / "jvm_csv")
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .csv(jvm_dir)
    )
    jvm_part = [p for p in list_files(spark, jvm_dir, ".csv")][0]
    local = jvm_part[len("file:"):] if jvm_part.startswith("file:") else jvm_part
    with open(local) as f:
        jvm_lines = f.read().splitlines()

    paths = land_csv_files(
        spark, dirs["landing"], num_files=1, rows_per_file=200, seed=11
    )
    with open(paths[0]) as f:
        ours = f.read().splitlines()

    assert ours[0] == jvm_lines[0]  # header, first line
    assert sorted(ours[1:]) == sorted(jvm_lines[1:])


def test_csv_line_null_timestamp_matches_jvm_writer(spark, tmp_path):
    # a NULL timestamp must be an empty field, like every other column,
    # not a dropped field that shifts the rest of the line
    import datetime

    from pyspark.sql.types import StructField, StructType

    from simple_data_engineering_project_spark.pipeline import _csv_line
    from simple_data_engineering_project_spark.schemas import (
        COCOA_LANDING_SCHEMA,
    )

    schema = StructType(
        [StructField(f.name, f.dataType, True) for f in COCOA_LANDING_SCHEMA]
    )
    df = spark.createDataFrame(
        [
            ("a", None, "FARM-1", "Volta", "Criollo", 8.5, 1000.0, 20.5),
            ("b", None, None, None, None, None, None, None),
            ("c", datetime.datetime(2024, 1, 2, 3, 4, 5), "FARM-2",
             "Ashanti", "Forastero", 9.25, 501.0, None),
        ],
        schema,
    )
    jvm_dir = str(tmp_path / "jvm_csv")
    (
        df.coalesce(1)
        .write.option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .csv(jvm_dir)
    )
    jvm_part = [p for p in list_files(spark, jvm_dir, ".csv")][0]
    with open(jvm_part[len("file:"):] if jvm_part.startswith("file:") else jvm_part) as f:
        jvm_lines = sorted(f.read().splitlines())

    ours = sorted(r[0] for r in df.select(_csv_line()).collect())
    assert ours == jvm_lines
    assert ours[0].split(",")[1] == ""
    assert all(len(line.split(",")) == len(schema) for line in ours)


def _read_rows(spark, path):
    df = spark.read.parquet(path)
    return {r["shipment_id"]: r.asDict() for r in df.collect()}


def _write_csv(path, rows):
    with open(path, "w") as f:
        f.write(
            "shipment_id,timestamp,farm_id,region,bean_type,quality_score,"
            "shipment_weight_kg,temperature_celsius\n"
        )
        for r in rows:
            f.write(",".join(r) + "\n")


def _tree_bytes(root: str) -> dict[str, bytes]:
    """{path relative to root: content} of every file under root."""
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(dirpath, fn)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = f.read()
    return out


@pytest.mark.parametrize("keep_history", [False, True])
def test_legacy_flat_warehouse_upgrades_to_partitioned(spark, dirs, keep_history):
    # a warehouse written before the month layout (flat parquet, no
    # load_month column) is rewritten whole into the partitioned layout
    # by the next merge; the batch still wins on conflicting keys. With
    # history, the flat table is kept whole as snapshot v0's __full__
    # copy, byte for byte
    import json
    import os

    from simple_data_engineering_project_spark.pipeline import (
        read_warehouse_version,
    )
    from simple_data_engineering_project_spark.schemas import (
        COCOA_LANDING_SCHEMA,
    )

    seed_dir = f"{dirs['landing']}_seed"
    paths = land_csv_files(spark, seed_dir, num_files=1, rows_per_file=300, seed=21)
    table = f"{dirs['warehouse']}/cocoa_shipments"
    enrich(
        spark.read.schema(COCOA_LANDING_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .csv(paths),
        "2024-01-01 00:00:00",
    ).write.parquet(table)
    assert not any("=" in n for n in os.listdir(table))
    flat = {
        name: data
        for name, data in _tree_bytes(table).items()
        if name.endswith(".parquet")
    }
    assert flat

    # file 0 re-sends the flat table's 300 keys, file 1 adds 300 new ones
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=300, seed=21)
    res = _run(spark, dirs, keep_history)
    assert res.rewritten_partitions == ["*"]
    assert res.rows_upserted == 600
    assert res.warehouse_rows == 600
    names = os.listdir(table)
    assert any(n.startswith("load_month=") for n in names)
    assert not any(n.endswith(".parquet") for n in names)
    wh = spark.read.parquet(table)
    assert "load_month" in wh.columns
    assert wh.count() == 600
    assert wh.select("shipment_id").distinct().count() == 600
    # every re-sent key now carries the batch's stamp
    assert wh.filter(F.col("processed_at") != F.lit(TS).cast("timestamp")).count() == 0

    history = f"{dirs['warehouse']}/_history"
    if keep_history:
        assert res.version == 0
        kept = _tree_bytes(f"{history}/v0/__full__")
        assert {n: d for n, d in kept.items() if n.endswith(".parquet")} == flat
        with open(f"{history}/manifest_v000000.json") as f:
            assert json.load(f)["full"] is True
        v0 = read_warehouse_version(spark, dirs["warehouse"], 0)
        assert _snapshot_of(v0) == _snapshot(spark, dirs)
    else:
        assert res.version is None
        assert not os.path.exists(history)

    # and the next batch merges per partition
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=50, seed=23)
    res = _run(spark, dirs, keep_history)
    assert res.rewritten_partitions != ["*"]
    assert res.warehouse_rows == 650 == spark.read.parquet(table).count()
    assert res.version == (1 if keep_history else None)


def _jobs_of(spark, group, fn, *args):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_pipeline_job_budget(spark, dirs):
    # landing is one write; a first load is the stage write plus the
    # warehouse write; a merge adds at most the moved-month key probe —
    # no count, distinct, bound or schema-inference side jobs
    import uuid

    tag = uuid.uuid4().hex
    args = (
        spark, dirs["landing"], dirs["staging"], dirs["warehouse"],
        dirs["archive"], TS,
    )
    _, n = _jobs_of(
        spark, f"land-{tag}", land_csv_files, spark, dirs["landing"], 3, 500, 41
    )
    assert n == 1, n
    res, n = _jobs_of(spark, f"load-{tag}", run_batch_pipeline, *args)
    assert res.warehouse_rows == 1500
    assert n <= 3, n
    # seed 42 re-sends seeds 42/43 of the first load and adds seed 44
    land_csv_files(spark, dirs["landing"], 3, 500, 42)
    res, n = _jobs_of(spark, f"merge-{tag}", run_batch_pipeline, *args)
    assert res.warehouse_rows == 2000
    assert n <= 8, n


def test_result_fields_match_side_queries(spark, dirs):
    # rows_upserted / warehouse_rows / rewritten_partitions come from
    # write observations and the key probe; they must equal what direct
    # queries of the stage and the warehouse give, and the table must
    # equal last-write-wins over the previous table and the batch
    table = f"{dirs['warehouse']}/cocoa_shipments"
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=400, seed=17)
    res = _run(spark, dirs)
    assert res.rows_upserted == spark.read.parquet(dirs["staging"]).count() == 800
    assert res.warehouse_rows == spark.read.parquet(table).count() == 800
    before = _read_rows(spark, table)

    keys = sorted(before)
    same, moved = before[keys[0]], before[keys[1]]
    batch = [
        # stays in its month
        [same["shipment_id"], same["timestamp"].strftime("%Y-%m-%dT%H:%M:%S"),
         "FARM-1", "Volta", "Criollo", "9.0", "1000.0", ""],
        # moves to a month the table does not hold yet
        [moved["shipment_id"], "2030-07-01T00:00:00",
         "FARM-2", "Volta", "Criollo", "8.0", "1200.0", "21.5"],
        # a new key in an existing month
        ["new-key", same["timestamp"].strftime("%Y-%m-%dT%H:%M:%S"),
         "FARM-3", "Volta", "Criollo", "8.5", "800.0", "19.0"],
    ]
    _write_csv(f"{dirs['landing']}/batch.csv", batch)
    res = _run(spark, dirs)
    after = _read_rows(spark, table)

    assert res.rows_upserted == spark.read.parquet(dirs["staging"]).count() == 3
    assert res.warehouse_rows == spark.read.parquet(table).count() == 801
    assert res.rewritten_partitions == sorted(
        {same["load_month"], moved["load_month"], "2030-07"}
    )
    months = {r["load_month"] for r in before.values()}
    assert len(months - set(res.rewritten_partitions)) > 0  # untouched exist
    # the table equals the previous table overwritten by the batch
    assert set(after) == set(before) | {"new-key"}
    for k in set(before) - {same["shipment_id"], moved["shipment_id"]}:
        assert after[k] == before[k]
    assert after[same["shipment_id"]]["farm_id"] == "FARM-1"
    assert after[moved["shipment_id"]]["load_month"] == "2030-07"
    assert after["new-key"]["shipment_value_usd"] == 2000.0


def test_header_only_batches_are_empty_loads(spark, dirs):
    # a valid file with no rows loads nothing, on an empty warehouse and
    # on an existing one, and is archived like any processed file
    import os

    os.makedirs(dirs["landing"])
    _write_csv(f"{dirs['landing']}/empty_a.csv", [])
    res = _run(spark, dirs)
    assert (res.rows_upserted, res.warehouse_rows) == (0, 0)
    assert len(res.archived_files) == 1

    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=200, seed=19)
    res = _run(spark, dirs)
    assert res.warehouse_rows == 200

    _write_csv(f"{dirs['landing']}/empty_b.csv", [])
    res = _run(spark, dirs)
    assert (res.rows_upserted, res.warehouse_rows) == (0, 200)
    assert res.rewritten_partitions == []
    assert len(res.archived_files) == 1


def _stage_rows(spark, staging_dir):
    rows = _read_rows(spark, staging_dir)
    for r in rows.values():
        r["load_month"] = r["timestamp"].strftime("%Y-%m")
    return rows


def test_merge_spanning_every_month_skips_the_key_probe(spark, dirs):
    # a batch whose months cover every stored month rewrites all of them,
    # so a key that moves month loses its old copy without the
    # moved-month probe: the merge is the stage write plus the merge
    # write (the probe added 4 jobs)
    import uuid

    table = f"{dirs['warehouse']}/cocoa_shipments"
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=300, seed=31)
    _run(spark, dirs)
    before = _read_rows(spark, table)
    stored = {r["load_month"] for r in before.values()}

    key = sorted(before)[0]
    old_month = before[key]["load_month"]
    new_month = next(m for m in sorted(stored) if m != old_month)
    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=300, seed=40)
    _write_csv(
        f"{dirs['landing']}/move.csv",
        [[key, f"{new_month}-15T12:00:00", "FARM-5", "Volta", "Criollo",
          "8.0", "1000.0", "21.5"]],
    )
    res, n = _jobs_of(spark, f"merge-{uuid.uuid4().hex}", _run, spark, dirs)
    assert n <= 4, n

    after = _read_rows(spark, table)
    batch = _stage_rows(spark, dirs["staging"])
    assert stored <= {r["load_month"] for r in batch.values()}
    assert after == {**before, **batch}
    assert after[key]["load_month"] == new_month
    moved = spark.read.parquet(table).filter(F.col("shipment_id") == key)
    assert moved.count() == 1  # the stale copy in the old month is gone
    assert res.rewritten_partitions == sorted(
        {r["load_month"] for r in batch.values()}
    )
    assert res.warehouse_rows == len(after) == 900


def _py4j_commands(spark, fn, *args):
    """(result, Py4J commands this thread sent to the JVM during fn)."""
    import threading

    client = spark.sparkContext._gateway._gateway_client
    send, me, n = client.send_command, threading.get_ident(), [0]

    def counting(*a, **k):
        if threading.get_ident() == me:  # not the py4j finalizer thread
            n[0] += 1
        return send(*a, **k)

    client.send_command = counting
    try:
        out = fn(*args)
    finally:
        del client.send_command
    return out, n[0]


def test_pipeline_py4j_round_trip_budget(spark, dirs):
    # every F.* call, literal and Hadoop Path lookup is a driver->JVM
    # round trip; landing builds its frame as SQL text and the pipeline
    # shares one FileSystem handle, so both stay far below the ~2,000
    # commands each that column-by-column building cost
    args = (
        spark, dirs["landing"], dirs["staging"], dirs["warehouse"],
        dirs["archive"], TS,
    )
    land_csv_files(spark, dirs["landing"], 6, 200, 50)
    run_batch_pipeline(*args)
    _, n = _py4j_commands(
        spark, land_csv_files, spark, dirs["landing"], 6, 200, 53
    )
    assert n <= 150, n
    res, n = _py4j_commands(spark, run_batch_pipeline, *args)
    assert res.warehouse_rows == 1800
    assert n <= 1500, n

    # the same merge with history: the retired months move to the
    # snapshot in one rename, so history costs about its manifest (the
    # manifest listing, read and write), not commands per month
    hist = {k: f"{v}_hist" for k, v in dirs.items()}
    args = (
        spark, hist["landing"], hist["staging"], hist["warehouse"],
        hist["archive"], TS, True,
    )
    land_csv_files(spark, hist["landing"], 6, 200, 50)
    run_batch_pipeline(*args)
    land_csv_files(spark, hist["landing"], 6, 200, 53)
    res_hist, n_hist = _py4j_commands(spark, run_batch_pipeline, *args)
    assert res_hist.rewritten_partitions == res.rewritten_partitions
    assert res_hist.version == 1
    assert n_hist - n <= 50, (n_hist, n)


def test_land_files_hold_the_generator_rows_in_lid_order(spark, dirs):
    # more files than cores: file i is range partition i, holding the
    # header and then generate_cocoa_data(rows, seed + i) in lid order
    from simple_data_engineering_project_spark.pipeline import _csv_line
    from simple_data_engineering_project_spark.schemas import (
        COCOA_LANDING_SCHEMA,
    )

    header = ",".join(f.name for f in COCOA_LANDING_SCHEMA.fields)
    paths = land_csv_files(
        spark, dirs["landing"], num_files=9, rows_per_file=40, seed=3
    )
    assert [p.rsplit("/", 1)[-1] for p in paths] == [
        f"cocoa_shipments_{3 + i:04d}_{i}.csv" for i in range(9)
    ]
    assert list_files(spark, dirs["landing"], ".csv") == sorted(
        f"file:{p}" for p in paths
    )
    for i, path in enumerate(paths):
        want = [
            r[0]
            for r in generate_cocoa_data(spark, 40, 3 + i)
            .select(_csv_line())
            .collect()
        ]
        with open(path) as f:
            assert f.read().splitlines() == [header] + want


def test_land_header_only_files_load_as_empty_batches(spark, dirs):
    paths = land_csv_files(
        spark, dirs["landing"], num_files=2, rows_per_file=0, seed=8
    )
    for path in paths:
        with open(path) as f:
            assert f.read().splitlines() == [
                "shipment_id,timestamp,farm_id,region,bean_type,"
                "quality_score,shipment_weight_kg,temperature_celsius"
            ]
    res = _run(spark, dirs)
    assert (res.rows_upserted, res.warehouse_rows) == (0, 0)
    assert res.skipped_files == []
    assert len(res.archived_files) == 2


class _CrashOnInstall:
    """A Hadoop FileSystem whose first rename out of the temp tree
    raises, as a crash between a commit's retire and install would."""

    def __init__(self, fs, state):
        self._fs, self._state = fs, state

    def rename(self, src, dst):
        if not self._state["crashed"] and ".cocoa_shipments_next" in str(
            src.toString()
        ):
            self._state["crashed"] = True
            raise IOError("crash at install")
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _parquet_rows(root: str, skip: str = "\0") -> list[tuple]:
    """Rows of every parquet file under root outside the subtree skip,
    read by pyarrow (the partition column lives in the path)."""
    import os

    import pyarrow.parquet as pq

    rows = []
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if d != skip]
        for fn in files:
            if fn.endswith(".parquet"):
                table = pq.read_table(os.path.join(dirpath, fn))
                rows += [tuple(sorted(r.items())) for r in table.to_pylist()]
    return rows


def test_crash_at_install_loses_no_stored_row(spark, dirs, monkeypatch):
    # a commit renames each stored month aside before installing its new
    # copy, so a crash at the install leaves every pre-merge row on disk
    # (live tree plus retired directory); the next run then stops on the
    # retired directory instead of merging against the incomplete table,
    # and so does a rollback
    from simple_data_engineering_project_spark.pipeline import (
        rollback_warehouse,
    )
    from simple_data_engineering_project_spark.sources import HadoopFS

    table = f"{dirs['warehouse']}/cocoa_shipments"
    tmp = f"{dirs['warehouse']}/.cocoa_shipments_next"
    retired = f"{dirs['warehouse']}/.cocoa_shipments_retired"
    land_csv_files(spark, dirs["landing"], num_files=2, rows_per_file=300, seed=61)
    _run(spark, dirs)
    stored = _parquet_rows(table)
    assert len(stored) == 600

    land_csv_files(spark, dirs["landing"], num_files=1, rows_per_file=300, seed=62)
    state = {"crashed": False}
    resolve = HadoopFS._resolve

    def crashing(self, path):
        fs, p = resolve(self, path)
        return _CrashOnInstall(fs, state), p

    with monkeypatch.context() as m:
        m.setattr(HadoopFS, "_resolve", crashing)
        with pytest.raises(IOError, match="crash at install"):
            _run(spark, dirs)
    assert state["crashed"]
    on_disk = set(_parquet_rows(dirs["warehouse"], skip=".cocoa_shipments_next"))
    assert set(stored) <= on_disk

    left = (_tree_bytes(tmp), _tree_bytes(retired))
    assert left[1]  # the crash fell after a month was retired
    with pytest.raises(IOError, match="cocoa_shipments_retired"):
        _run(spark, dirs)
    with pytest.raises(IOError, match="cocoa_shipments_retired"):
        rollback_warehouse(spark, dirs["warehouse"], 0)
    assert (_tree_bytes(tmp), _tree_bytes(retired)) == left
