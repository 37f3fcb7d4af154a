"""The batch ETL pipeline — reference Tier A behaviors, Spark-first.

Reproduces the semantics of the reference's two DAGs
(`cocoa_data_generation_dag.py` + `cocoa_processing_dag.py`) as one
declarative pipeline:

    generate → land CSVs → discover → validate (per-file skip) → enrich
    → stage parquet → upsert into warehouse → archive processed files

What the reference does with Airflow task boundaries, S3 round-trips, and
XCom manifests collapses into a single Spark plan per run; the pieces the
optimizer can't subsume (per-file schema validation, keyed upsert without
a txn log, archive-on-success) are the ~100 lines here.

Scale notes: file listing and header probing are control-plane metadata
(names + first line), never data; the data path is one DataFrame plan —
scan all valid files at once (vs the reference's sequential per-file
loop), derive columns, one shuffle for the keyed upsert.

Spark job budget:

- landing: one job, the text write (no exchange);
- first load: the stage write and the warehouse write;
- merge: the stage write and the merge write, plus the moved-month key
  probe only when the batch misses a stored month, plus a
  partition-pruned count only when some months are untouched.

``rows_upserted`` and ``warehouse_rows`` are observations on those
writes, not count jobs, and read-backs use the known schema, so no
schema-inference job runs. Filesystem work (listing, header probes,
deletes, renames, archive moves) goes through one ``HadoopFS`` handle
per call.

One writer. :func:`merge_into` is the stage-probe-upsert-write half of
the daily job and the whole of a streaming micro-batch
(``streaming.stream_upsert_warehouse``), and :func:`_commit` is the one
code that publishes a table: every merge, first load, legacy upgrade,
rollback and compaction (:func:`compact_small_files`). The write goes
to the temp tree ``.{name}_next`` beside the table, then for each unit
(a month, or the whole tree) the live copy, if stored, is renamed into
the retired directory ``.{name}_retired`` and the new copy into its
place. Last, the retired directory becomes snapshot ``_history/v{N}``
(``keep_history``) or is deleted. A crash between a unit's two renames
leaves its live path absent, its old copy retired and its new one in
the temp tree; nothing is lost, and the next write stops on the
leftover retired directory instead of merging against the incomplete
table.
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .operators.upsert import upsert_last_write_wins
from .schemas import (
    BEAN_TYPES,
    COCOA_LANDING_SCHEMA,
    COCOA_REGIONS,
    PRICE_PER_KG_USD,
    REQUIRED_COCOA_COLUMNS,
)
from .sources import HadoopFS, parquet_data_files, scan_parquet, sink_parquet


def generate_cocoa_data(
    spark: SparkSession, num_records: int, seed: int = 42
) -> DataFrame:
    """Synthetic cocoa shipments (reference A16, generate_data.py:24-47):
    :func:`_cocoa_columns` over ``lid = id``, as file 0 of row seed
    ``seed`` (the ``id div`` term is 0; it keeps the schema's
    nullability what it has always been)."""
    row_seed = f"({seed}L + id div {max(num_records, 1)})"
    return spark.range(num_records).selectExpr(
        *[
            f"{sql} AS `{name}`"
            for name, sql in _cocoa_columns("id", row_seed).items()
        ]
    )


def _cocoa_columns(lid: str, row_seed: str) -> dict[str, str]:
    """SQL text of the synthetic shipment columns, in landing order, for
    local row id ``lid`` and row seed ``row_seed`` (both SQL bigint
    expressions).

    The frame is SQL text so that building it is one JVM call: the same
    columns built through ``pyspark.sql.functions`` cost ~1,300 Py4J
    round trips, one per ``F.*`` call and literal.

    Same value domains as the reference, rebuilt as KEY-DERIVED column
    expressions — fully distributed (the reference builds rows in a
    Python loop) and deterministic given (lid, row seed).

    - shipment_id: md5(row seed, lid) — unique + reproducible (the
      reference's uuid4 is nondeterministic, a correctness trap per
      SURVEY §1.4)
    - every random draw is a Knuth multiplicative-hash uniform of
      (lid, row seed, column-index) in PURE INTEGER arithmetic (the
      dp_noisy_counts/dataset_split mechanism) instead of ``rand()``:
      rand() values depend on the RANGE PARTITIONING (a different core
      count reshuffles every draw), while the hash is row-keyed — stable
      across parallelism, engines, and layouts, which is what makes the
      generator itself DuckDB-oracle-checkable
    - timestamp: uniform over a fixed 2-year window (the reference uses
      [now-2y, now], nondeterministic; we pin the window)
    - temperature_celsius: NULL with p = 0.1 (generate_data.py:40-41)
    """

    def u_int(k: int, scale: int) -> str:
        # floor(uniform(lid,k) * scale) without any float op:
        # h ∈ [0, 2^32) via ((lid*31+row_seed*131+k) % 1000003) * knuth,
        # then (h*scale) >> 32 — pure int64 (h*scale < 2^58 for every
        # scale here; a double division would lose exactness past
        # 2^53), ANSI-overflow-safe, and bit-identical in DuckDB.
        # 2654435761 and 4294967296 are bigint literals.
        h = (
            f"(({lid} * 31 + {row_seed} * 131 + {k}) % 1000003)"
            " * 2654435761 % 4294967296"
        )
        return f"shiftrightunsigned(({h}) * {scale}, 32)"

    def pick(values: list[str], k: int) -> str:
        items = ", ".join(f"'{v}'" for v in values)
        return f"array({items})[CAST({u_int(k, len(values))} AS INT)]"

    window_s = 2 * 365 * 24 * 3600
    return {
        "shipment_id": f"md5(concat('seed', {row_seed}, '-', {lid}))",
        # 1672531200 = 2023-01-01 UTC
        "timestamp": f"timestamp_seconds(1672531200 + {u_int(0, window_s)})",
        "farm_id": f"concat('FARM-', CAST(100 + {u_int(1, 101)} AS STRING))",
        "region": pick(COCOA_REGIONS, 2),
        "bean_type": pick(BEAN_TYPES, 3),
        # integer basis points / deciunits: the domain is already
        # 2dp/1dp-stepped, and integer construction sidesteps the
        # Spark-vs-DuckDB ROUND half-boundary divergence. A bare 100.0
        # would be a DECIMAL literal; 100.0D is the double.
        "quality_score": f"(750 + {u_int(4, 230)}) / 100.0D",
        "shipment_weight_kg": f"CAST(500 + {u_int(5, 4501)} AS DOUBLE)",
        "temperature_celsius": (
            f"CASE WHEN {u_int(6, 10)} >= 1"
            f" THEN (180 + {u_int(7, 70)}) / 10.0D END"
        ),
    }


_LANDING_COLS = [f.name for f in COCOA_LANDING_SCHEMA.fields]


def _csv_line_sql(cols: dict[str, str]) -> str:
    """SQL text of one landing CSV line over the column expressions
    ``cols``, as Spark's CSV writer formats it with
    ``timestampFormat=yyyy-MM-dd'T'HH:mm:ss``: a NULL in any column, the
    timestamp included, is an empty field."""
    fields = [
        f"date_format({cols[c]}, 'yyyy-MM-dd\\'T\\'HH:mm:ss')"
        if c == "timestamp"
        else f"CAST({cols[c]} AS STRING)"
        for c in _LANDING_COLS
    ]
    return "concat_ws(',', {})".format(
        ", ".join(f"coalesce({f}, '')" for f in fields)
    )


def _csv_line():
    """:func:`_csv_line_sql` over a frame's own landing columns."""
    return F.expr(_csv_line_sql({c: f"`{c}`" for c in _LANDING_COLS}))


def land_csv_files(
    spark: SparkSession,
    landing_dir: str,
    num_files: int = 3,
    rows_per_file: int = 2000,
    seed: int = 42,
) -> list[str]:
    """Land ``num_files`` CSV files (reference gen_dag.py:36-52); file
    ``i`` holds the rows of seed ``seed + i``, header first, then its
    rows in ``lid`` order. Returns the landed paths in file order.

    One Spark job, no exchange: ``spark.range`` with one range
    partition per file yields partition ``i`` = ids of file ``i``, and
    the text write of that partition is part file ``i``, renamed to a
    flat ``.csv`` path so the landing layout matches the reference's
    (one object per file). Position 0 of each file is its header line;
    the other positions are formatted as CSV lines in the same
    projection (``_csv_line_sql`` mirrors the uniVocity writer on this
    schema, whose value domains are all quote-free; pinned by
    tests/test_pipeline.py::test_land_csv_lines_match_jvm_writer).
    """
    per_file = rows_per_file + 1
    pos = f"id % {per_file}"
    # the header position reuses lid 0, so every draw stays in range
    cols = _cocoa_columns(
        f"greatest({pos} - 1, 0)", f"({seed}L + id div {per_file})"
    )
    header = ",".join(_LANDING_COLS)
    tmp = f"{landing_dir}/.tmp_gen"
    (
        spark.range(0, num_files * per_file, 1, num_files)
        .selectExpr(
            f"CASE WHEN {pos} = 0 THEN '{header}'"
            f" ELSE {_csv_line_sql(cols)} END"
        )
        .write.mode("overwrite")
        .text(tmp)
    )
    fs = HadoopFS(spark)
    parts = fs.list_files(tmp, ".txt")
    if len(parts) != num_files:
        raise RuntimeError(
            f"landing wrote {len(parts)} part files for {num_files} files"
        )
    # part-<i>-<job>.txt is range partition i
    parts.sort(key=lambda p: int(p.rsplit("/", 1)[1].split("-")[1]))
    paths = []
    for i, part in enumerate(parts):
        dst = f"{landing_dir}/cocoa_shipments_{seed + i:04d}_{i}.csv"
        fs.move(part, dst)
        paths.append(dst)
    fs.delete(tmp)
    return paths


def validate_header(
    spark: SparkSession, path: str, fs: HadoopFS | None = None
) -> tuple[bool, set[str]]:
    """Reference A5 (dag.py:186-190): a file missing any required column is
    skipped whole with a warning, not failed.

    Probes only the header line, driver-side through the Hadoop
    FileSystem API (one buffered readLine — a metadata-sized read, no
    Spark job). The previous ``spark.read.text(path).limit(1).collect()``
    scheduled one full driver-coordinated job PER FILE — pure
    scheduler/barrier overhead multiplied by the batch's file count
    (round-15 optimization, guide §5 "the driver should do almost no
    data work" cuts both ways: a one-line read IS driver-sized work,
    and a Spark job per file is the expensive way to do it).

    ``fs`` is the caller's :class:`HadoopFS` handle, if it has one.
    """
    first = (fs or HadoopFS(spark)).first_line(path)
    if first is None:
        # ADVICE r15: a file that vanished between list_files and
        # validation is an infrastructure race, not a schema problem —
        # keep the skip semantics (pinned by test_pipeline) but log a
        # DISTINCT warning so the race is not reported as a
        # missing-column schema issue
        import logging

        logging.getLogger(__name__).warning(
            "landing file vanished before header validation "
            "(infrastructure race, not a schema problem): %s", path,
        )
        return False, set(REQUIRED_COCOA_COLUMNS)
    if first == "":
        return False, set(REQUIRED_COCOA_COLUMNS)
    cols = {c.strip() for c in first.split(",")}
    missing = set(REQUIRED_COCOA_COLUMNS) - cols
    return not missing, missing


def enrich(df: DataFrame, deterministic_ts: str | None = None) -> DataFrame:
    """Reference A6+A7 (dag.py:193-194): derived value + audit stamp.

    ``deterministic_ts`` freezes processed_at for replay-idempotent tests
    (SURVEY §1.4: never hash a current_timestamp column).
    """
    stamp = (
        F.lit(deterministic_ts).cast("timestamp")
        if deterministic_ts
        else F.current_timestamp()
    )
    return df.withColumn(
        "shipment_value_usd",
        F.round(F.col("shipment_weight_kg") * F.lit(PRICE_PER_KG_USD), 2),
    ).withColumn("processed_at", stamp)


@dataclass
class PipelineResult:
    processed_files: list[str] = field(default_factory=list)
    skipped_files: list[str] = field(default_factory=list)
    archived_files: list[str] = field(default_factory=list)
    rows_upserted: int = 0
    warehouse_rows: int = 0
    rewritten_partitions: list[str] = field(default_factory=list)
    version: int | None = None  # snapshot id when keep_history=True


#: Hive partition column of every table :func:`merge_into` writes.
#: Month-of-event-time keeps partition count bounded (12/year) while
#: making a merge touch only the months its batch lands in.
WAREHOUSE_PARTITION_COL = "load_month"


def _write_partitioned(df: DataFrame, path: str, key: str) -> int:
    """partitionBy write clustered on the partition column and SORTED
    on the table's first key ``key`` within partitions; returns the rows
    written.

    Without the repartition every shuffle task holding rows of a month
    opens a writer for it — months × tasks small files. Clustering first
    yields ~one file per month; at real scale swap the plain repartition
    for (month, salt) with a per-file row target to cap file size.

    The within-partition key sort (round 11) costs one local sort at
    write time — no extra shuffle — and makes every row group's key
    min/max zone map TIGHT and disjoint, so the next merge's key-range
    probe (:func:`merge_into`'s moved-month scan) skips row groups at the
    parquet footer instead of decoding them. The same layout move
    zorder_layout makes for multi-column ranges. Caveat: the optimizer
    currently removes this sort, because the partitioned writer adds its
    own local sort on the partition column above it, so the written
    files are NOT key-sorted; sorting on (partition column, key) would
    keep the order.

    The row count is an observation on the write itself, not a second
    job. It sits right after the exchange: adaptive execution replaces
    an empty shuffle's consumers with an empty relation, which would
    drop an observation placed before the exchange, and one placed
    after the sort would keep the optimizer from planning the sort as
    it does without the observation (the stored bytes would change).
    """
    written = Observation()
    (
        df.repartition(F.col(WAREHOUSE_PARTITION_COL))
        .observe(written, F.count(F.lit(1)).alias("rows"))
        .sortWithinPartitions(key)
        .write.mode("overwrite")
        .partitionBy(WAREHOUSE_PARTITION_COL)
        .parquet(path)
    )
    return written.get["rows"]


def run_batch_pipeline(
    spark: SparkSession,
    landing_dir: str,
    staging_dir: str,
    warehouse_dir: str,
    archive_dir: str,
    deterministic_ts: str | None = None,
    keep_history: bool = False,
) -> PipelineResult:
    """One daily-run equivalent (reference EP2, dag.py:56-276).

    Empty landing short-circuits (A15); invalid files are skipped and NOT
    archived so they re-scan next run (A17 semantics); valid files scan as
    ONE DataFrame, which :func:`merge_into` upserts last-write-wins on
    ``shipment_id`` (tiebreak ``processed_at``) into
    ``{warehouse_dir}/cocoa_shipments`` (A13); archive only after a
    successful commit (A14 ordering — archival is what marks a file
    durable).

    ``keep_history=True`` turns every batch into a numbered snapshot
    (lakehouse-style time travel): the retired directory, holding the
    pre-batch copies of the replaced partitions, becomes
    ``{warehouse_dir}/_history/v{N}/`` and a JSON manifest records which
    partitions batch N created vs replaced; without history it is
    deleted. Reconstruct any past state with
    :func:`read_warehouse_version`; history cost is one extra copy of
    only the partitions each batch touches (never the table) — the same
    frugality contract as the merge itself.
    """
    fs = HadoopFS(spark)
    files = fs.list_files(landing_dir, ".csv")
    valid, skipped = [], []
    for path in files:
        ok, _missing = validate_header(spark, path, fs)
        if ok:
            valid.append(path)
        else:
            skipped.append(path)
    if not valid:
        # A15: an empty landing (or one of invalid files only) short-circuits
        return PipelineResult(skipped_files=skipped)

    landed = (
        spark.read.schema(COCOA_LANDING_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss")
        .csv(valid)
    )
    result = merge_into(
        spark,
        enrich(landed, deterministic_ts=deterministic_ts),
        staging_dir,
        f"{warehouse_dir}/{TABLE}",
        ["shipment_id"],
        "timestamp",
        ["processed_at"],
        keep_history,
    )
    result.skipped_files = skipped
    result.processed_files = list(valid)
    for path in valid:  # A14: archive only what committed
        name = path.rsplit("/", 1)[-1]
        if fs.move(path, f"{archive_dir}/{name}"):
            result.archived_files.append(path)
    return result


def merge_into(
    spark: SparkSession,
    batch: DataFrame,
    staging_dir: str,
    table_path: str,
    keys: Sequence[str],
    event_time: str,
    tiebreak: Sequence[str],
    keep_history: bool,
) -> PipelineResult:
    """Upsert ``batch`` last-write-wins on ``keys`` into the table at
    ``table_path``, partitioned by the month of ``event_time``, and
    publish it with :func:`_commit` — the one writer of the daily job
    and the streaming micro-batch. Returns ``rows_upserted``,
    ``warehouse_rows``, ``rewritten_partitions`` and ``version``.

    The batch is staged columnar at ``staging_dir`` first (A9): the table
    loads from the stage, so a load failure never leaves it half-written
    from raw input. The stage write observes the batch's row count, the
    bounds of its first key and its months (bounded by the month
    domain). A table that does not exist yet, or a legacy flat one, is
    written whole as one unit; a partitioned table rewrites only the
    months that can hold a winner or a loser of this batch (reference
    A13, dag.py:223-237: ON CONFLICT DO UPDATE touches only conflicting
    rows; a daily batch over a 100 TB table must not rewrite 100 TB).

    Spark work: the stage write and the table write, plus the
    moved-month key probe only when the batch misses a stored month
    (when it spans every stored month, the months it rewrites already
    hold any moved key's old copy), plus a partition-pruned count only
    when some months are untouched. Every read-back uses the known
    schema, so no side query or schema-inference job runs. Which month
    copies are stored is known from the listing taken before the merge,
    so the commit sends no probe for them. A leftover retired directory
    (see :func:`_commit`) raises ``IOError``, and a stored table whose
    columns are not the batch's raises ``ValueError`` (schema drift: a
    failed micro-batch replays), both before anything is written.
    """
    fs = HadoopFS(spark)
    fs.check_retired(_beside(table_path, RETIRED))
    stored = fs.exists(table_path)
    months = _partitions(fs, table_path) if stored else []
    if stored:
        _check_columns(fs, table_path, months, batch.columns)
    part = WAREHOUSE_PARTITION_COL
    month = F.expr(
        f"coalesce(date_format(`{event_time}`, 'yyyy-MM'), 'unknown')"
    )
    observed = Observation()
    sink_parquet(
        batch.observe(
            observed,
            F.count(F.lit(1)).alias("rows"),
            F.min(keys[0]).alias("lo"),
            F.max(keys[0]).alias("hi"),
            F.collect_set(month).alias("months"),
        ),
        staging_dir,
    )
    seen = observed.get
    result = PipelineResult(rows_upserted=seen["rows"])
    schema = batch.schema
    staged = (
        spark.read.schema(schema).parquet(staging_dir).withColumn(part, month)
    )

    # the commit's units: month -> whether a live copy of it is stored,
    # or FULL for the whole tree (first load, legacy flat layout)
    if stored:
        if not months:
            # legacy flat layout: one-time full rewrite into the
            # partitioned layout, then future runs merge per-partition
            old_affected = (
                spark.read.schema(schema)
                .parquet(table_path)
                .withColumn(part, month)
            )
            units = {FULL: True}
        else:
            old = spark.read.schema(
                StructType(schema.fields + [StructField(part, StringType())])
            ).parquet(table_path)
            if set(months) <= set(seen["months"]):
                # the probe below can only add stored months, and the
                # batch rewrites every one of them already
                affected = sorted(seen["months"])
                old_affected = old
            else:
                # months holding a PRIOR version of a batch key (an
                # update may move a key across months; its old copy must
                # be deleted). Column-pruned scan of (keys, month) only,
                # semi-joined against the batch keys. The range
                # prefilter on the first key (round 11) is conservative
                # (the semi-join still decides membership) but PUSHES to
                # the parquet scan: row groups whose zone map lies
                # outside the batch's key range are skipped at the
                # footer, never decoded (selective once the files are
                # key-sorted, see _write_partitioned).
                moved = (
                    old.select(*keys, part)
                    .filter(F.col(keys[0]).between(seen["lo"], seen["hi"]))
                    .join(
                        F.broadcast(staged.select(*keys).distinct()),
                        list(keys),
                        "left_semi",
                    )
                    .select(part)
                    .distinct()
                    .collect()
                )
                affected = sorted(set(seen["months"]) | {r[0] for r in moved})
                old_affected = old.filter(F.col(part).isin(affected))
            units = {m: m in months for m in affected}
            untouched = sorted(set(months) - set(affected))
            if untouched:
                # partition-pruned: reads only the untouched months' footers
                result.warehouse_rows = old.filter(
                    F.col(part).isin(untouched)
                ).count()
        merged = upsert_last_write_wins(
            old_affected, staged, keys=keys, tiebreak=tiebreak
        )
    else:
        merged = staged
        units = {FULL: False}
    # write-then-swap: never overwrite partitions we are reading from
    result.warehouse_rows += _write_partitioned(
        merged, _beside(table_path, NEXT), keys[0]
    )
    result.version = _commit(
        fs, table_path, units, keep_history, seen["months"]
    )
    result.rewritten_partitions = ["*"] if FULL in units else list(units)
    return result


def _check_columns(
    fs: HadoopFS, table_path: str, months: Sequence[str], columns: Sequence[str]
) -> None:
    """Raise ``ValueError`` unless the stored table at ``table_path``
    holds exactly the batch's ``columns`` (names, any order), read from
    one data file's footer: the merge reads the table with the batch's
    schema, which would silently drop a stored column the batch lacks
    and read one only the batch has as NULL for every stored row. The
    partition column lives in directory names, not in the files."""
    first = table_path + _unit_dir(months[0] if months else FULL)
    files = fs.list_files(first, ".parquet")
    if not files:
        return
    stored = fs.parquet_columns(files[0])
    if sorted(stored) != sorted(columns):
        raise ValueError(
            f"{table_path} stores columns {sorted(stored)}, the batch has "
            f"{sorted(columns)}; a merge requires identical column sets"
        )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_cols: Sequence[str] | None = None,
) -> int:
    """Compact a parquet directory's small files into ~target-size files.

    The small-file problem is the classic failure mode of continuous
    ingest (the reference lands one object per generated CSV,
    gen_dag.py:39-51): thousands of tiny files mean per-file open/footer
    overhead dominates scans and the driver's listing blows up.
    Compaction = read → repartition to ceil(bytes / target) → write the
    temp tree → :func:`_commit` without history, the same commit every
    table write goes through (a leftover retired directory raises
    ``IOError`` before anything is written). A table partitioned by
    month, the layout :func:`merge_into` writes, compacts month by month
    and keeps that layout: each month is one commit unit, so the next
    merge still rewrites only its months, and the snapshots of a
    history-keeping warehouse still resolve against the live months
    (compaction changes files, not rows). A flat directory is one
    whole-tree unit.

    ``sort_cols`` additionally clusters rows within each output file
    (sortWithinPartitions, no global shuffle beyond the repartition) so
    parquet row-group min/max stats become selective — the poor man's
    Z-order, and at 100 TB the difference between pruning row groups and
    reading them.

    Returns the number of output files written.
    """
    fs = HadoopFS(spark)
    fs.check_retired(_beside(path, RETIRED))
    tmp = _beside(path, NEXT)
    units = _partitions(fs, path) or [FULL]
    for unit in units:
        sub = _unit_dir(unit)
        total = sum(sz for _, sz in parquet_data_files(spark, path + sub))
        n_out = max(1, -(-total // target_file_bytes))  # ceil
        out = spark.read.parquet(path + sub).repartition(int(n_out))
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        out.write.mode("overwrite").parquet(tmp + sub)
    # the scans above already failed unless every unit is stored
    _commit(fs, path, dict.fromkeys(units, True), False)
    return sum(
        len(parquet_data_files(spark, path + _unit_dir(unit))) for unit in units
    )


# ----------------------------------------------------------------- commit

#: The warehouse's live table under the warehouse directory.
TABLE = "cocoa_shipments"

#: Beside every table (see :func:`_beside`): the temp tree each write
#: goes to, the directory the commit renames replaced live copies into,
#: and the streaming micro-batch's stage.
NEXT = ".{name}_next"
RETIRED = ".{name}_retired"
STAGE = ".{name}_stage"

#: Commit unit standing for the whole table tree (and its name in a
#: snapshot): a first load, a legacy flat layout, a rollback, a
#: compaction.
FULL = "__full__"


def _beside(table_path: str, leaf: str) -> str:
    """``leaf`` in the directory holding the table at ``table_path``,
    with ``{name}`` standing for the table's name: for
    ``wh/cocoa_shipments``, :data:`NEXT` is ``wh/.cocoa_shipments_next``
    and :data:`HISTORY_DIR` is ``wh/_history``."""
    head, sep, name = table_path.rstrip("/").rpartition("/")
    return f"{head}{sep}{leaf.format(name=name)}"


def _unit_dir(unit: str) -> str:
    """A commit unit's directory below the table root: ``/load_month=m``
    for month ``m``, "" for :data:`FULL`."""
    return "" if unit == FULL else f"/{WAREHOUSE_PARTITION_COL}={unit}"


def _commit(
    fs: HadoopFS,
    table_path: str,
    units: dict[str, bool],
    keep_history: bool,
    batch_months: Sequence[str] = (),
    **manifest_extra,
) -> int | None:
    """Publish the temp tree over the live table ``table_path``, the only
    code that does: one :meth:`HadoopFS.swap` of ``units`` (month →
    whether a live copy of it is stored, or :data:`FULL` → whether the
    table exists), which renames each stored copy into the retired
    directory and then the new one into place.

    ``keep_history`` only decides what becomes of the retired directory:
    it is renamed to ``_history/v{N}`` beside the table after snapshot
    N's manifest is written (returns N), or deleted (returns None). The
    manifest comes from the units: a stored month was "replaced", a new
    one "created"; a whole-tree unit is ``full`` when it retired a tree,
    and otherwise (a first load) creates ``batch_months``.

    Crash window: between a unit's two renames its live path is absent,
    its old copy in the retired directory and its new one in the temp
    tree. Until the retired directory is gone, every later write raises
    (:meth:`HadoopFS.check_retired`) instead of merging against the
    incomplete table.
    """
    tmp = _beside(table_path, NEXT)
    retired = _beside(table_path, RETIRED)
    rel = {m: _unit_dir(m) for m in units}
    any_retired = fs.swap(
        [
            (
                tmp + rel[m],
                table_path + rel[m],
                (rel[m][1:] or FULL) if stored else None,
            )
            for m, stored in units.items()
        ],
        retired,
    )
    fs.delete(tmp)
    if not keep_history:
        if any_retired:
            fs.delete(retired)
        return None
    history = _beside(table_path, HISTORY_DIR)
    manifests = _read_manifests(fs, history)
    version = manifests[-1]["version"] + 1 if manifests else 0
    first_load = units == {FULL: False}
    manifest = {
        "version": version,
        "full": units.get(FULL, False),
        "created": sorted(
            batch_months if first_load else [m for m in units if not units[m]]
        ),
        "replaced": sorted(m for m in units if units[m] and m != FULL),
        **manifest_extra,
    }
    fs.write_bytes(
        f"{history}/manifest_v{version:06d}.json",
        json.dumps(manifest).encode("utf-8"),
    )
    if any_retired:
        fs.move(retired, f"{history}/v{version}")
    return version


# ---------------------------------------------------------------- history

#: Subdirectory of the warehouse holding snapshot manifests and the
#: pre-batch copies of replaced partitions (lakehouse-style time travel).
HISTORY_DIR = "_history"


def _read_manifests(fs: HadoopFS, history: str) -> list[dict]:
    out = [
        json.loads(fs.read_bytes(path).decode("utf-8"))
        for path in fs.list_files(history, ".json")
    ]
    return sorted(out, key=lambda m: m["version"])


def _partitions(fs: HadoopFS, table_path: str) -> list[str]:
    """Values of the hive partition directories directly under
    ``table_path``, sorted."""
    return [d.split("=", 1)[1] for d in fs.list_dirs(table_path) if "=" in d]


def read_warehouse_version(
    spark: SparkSession, warehouse_dir: str, version: int
) -> DataFrame:
    """Reconstruct the warehouse as of snapshot ``version`` (time travel).

    Snapshot N is the table state right after the batch that returned
    ``PipelineResult.version == N`` from a ``keep_history=True`` run.
    Reconstruction is pure metadata arithmetic — no data was copied at
    read time and none is copied now:

    - the BASE TREE is the live table, unless some later batch ``w`` did
      a FULL rewrite (legacy-layout upgrade or rollback): then the
      pre-``w`` tree saved at ``_history/v{w}/__full__`` is the state at
      ``w-1`` and becomes the base (``w`` = earliest full after
      ``version``);
    - each partition then resolves independently against batches in
      ``(version, w)``: the earliest one that REPLACED it holds its
      as-of copy in history; a partition none of them touched is served
      from the base tree; a partition CREATED after ``version`` is
      excluded.

    The same resolution Delta/Iceberg do from their logs, expressed over
    hive directories + JSON manifests.
    """
    part = WAREHOUSE_PARTITION_COL
    warehouse_path = f"{warehouse_dir}/{TABLE}"
    fs = HadoopFS(spark)
    manifests = _read_manifests(fs, f"{warehouse_dir}/{HISTORY_DIR}")
    if not manifests:
        raise ValueError(f"no snapshot history under {warehouse_dir}")
    max_v = manifests[-1]["version"]
    min_v = manifests[0]["version"]
    if not min_v <= version <= max_v:
        raise ValueError(
            f"version {version} outside readable range [{min_v}, {max_v}]"
        )

    fulls_after = [
        m["version"] for m in manifests if m["full"] and m["version"] > version
    ]
    horizon = min(fulls_after) if fulls_after else None
    if horizon is not None:
        base_path = f"{warehouse_dir}/{HISTORY_DIR}/v{horizon}/{FULL}"
        if version == horizon - 1:
            # the saved full tree IS the requested state verbatim
            return scan_parquet(spark, base_path)
    else:
        base_path = warehouse_path

    created_at: dict[str, int] = {}
    for m in manifests:
        for p in m.get("created", []):
            created_at.setdefault(p, m["version"])
    base = set(_partitions(fs, base_path))
    replaced_later: dict[str, int] = {}
    for m in manifests:
        if m["version"] > version and (
            horizon is None or m["version"] < horizon
        ):
            for p in m.get("replaced", []):
                replaced_later.setdefault(p, m["version"])

    pieces = []
    for p in sorted(base | set(replaced_later)):
        if created_at.get(p, min_v - 1) > version:
            continue
        if p in replaced_later:
            src = (
                f"{warehouse_dir}/{HISTORY_DIR}/"
                f"v{replaced_later[p]}/{part}={p}"
            )
        else:  # p is in base
            src = f"{base_path}/{part}={p}"
        pieces.append(
            spark.read.parquet(src).withColumn(part, F.lit(p))
        )
    if not pieces:
        raise ValueError(f"version {version} reconstructs to no partitions")
    out = pieces[0]
    for df in pieces[1:]:
        out = out.unionByName(df)
    return out


def rollback_warehouse(
    spark: SparkSession, warehouse_dir: str, version: int
) -> int:
    """Restore the live warehouse to snapshot ``version`` — as a NEW
    snapshot, never by erasing history (the audit trail survives; a
    rollback of a rollback works).

    Materializes the reconstructed state to the temp tree first, then
    commits it as one whole-tree unit with history on (the same commit
    as the merge's): the current live tree becomes the new snapshot's
    ``__full__`` copy. Returns the new snapshot id.
    """
    table = f"{warehouse_dir}/{TABLE}"
    fs = HadoopFS(spark)
    fs.check_retired(_beside(table, RETIRED))
    state = read_warehouse_version(spark, warehouse_dir, version)
    _write_partitioned(state, _beside(table, NEXT), "shipment_id")
    return _commit(fs, table, {FULL: True}, True, rollback_of=version)


def expire_history(
    spark: SparkSession, warehouse_dir: str, keep_last: int
) -> list[int]:
    """Retention GC: drop the snapshot copies and manifests of all but
    the newest ``keep_last`` versions (the live table is never touched).

    Expired versions become unreadable — ``read_warehouse_version``
    reports the surviving readable range. This is the storage-cost bound
    every history-keeping table needs (Delta VACUUM / Iceberg
    expire_snapshots).
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs = HadoopFS(spark)
    manifests = _read_manifests(fs, f"{warehouse_dir}/{HISTORY_DIR}")
    if not manifests:
        return []
    cutoff = manifests[-1]["version"] - keep_last + 1
    expired = [m["version"] for m in manifests if m["version"] < cutoff]
    for v in expired:
        fs.delete(f"{warehouse_dir}/{HISTORY_DIR}/v{v}")
        fs.delete(f"{warehouse_dir}/{HISTORY_DIR}/manifest_v{v:06d}.json")
    return expired
