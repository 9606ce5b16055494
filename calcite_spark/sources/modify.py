"""TableModify ≈ rel/core/TableModify.java:74 (INSERT / UPDATE / DELETE /
MERGE) + schema/ModifiableTable.java:39.

Spark's native writers cover INSERT; UPDATE/DELETE/MERGE on plain
parquet have no transactional engine in this environment (Delta/Iceberg
jars absent — gated), so they are implemented as the standard
copy-on-write emulation: read → transform → write-new → swap. That is
exactly what Delta does under the hood minus the transaction log; the
API mirrors MERGE INTO semantics so a Delta-backed implementation can
slot in behind the same signatures.

100 TB: copy-on-write over a whole table is the worst case; partition
the table (writer `partition_by`) so modify ops rewrite only touched
partitions (dynamic partition overwrite).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, Observation, functions as F


def _owned(catalog) -> set:
    """The copy-on-write siblings this module created in `catalog`.

    Ownership is tracked EXPLICITLY, not inferred from the suffix: a
    user-registered path that happens to end in .cow-a must never be
    written over OR rmtree'd (review r9 — suffix inference deleted the
    user's source data, and suffix ALTERNATION would have written into
    it one swap later). Only a sibling a rewrite created alternates and
    gets cleaned; an unowned path — whatever its name — is treated as
    the user's original and only ever read. The set is session-local;
    at worst one sibling directory survives a restart."""
    owned = getattr(catalog, "_cow_owned", None)
    if owned is None:
        owned = catalog._cow_owned = set()
    return owned


def _sibling_path(catalog, table: str) -> str:
    """Where the next copy-on-write rewrite of `table` writes. Siblings
    alternate between two fixed names derived from the original path
    (`.cow-a` / `.cow-b`), so repeated DML neither grows the path
    unboundedly nor orphans a directory per statement (r8 verdict: the
    old `.new` suffix accumulated as `x.new.new.new…`)."""
    old_path = catalog.tables[table].path.rstrip("/")
    owned = _owned(catalog)
    if old_path in owned and old_path.endswith(".cow-a"):
        return old_path[: -len(".cow-a")] + ".cow-b"
    if old_path in owned and old_path.endswith(".cow-b"):
        return old_path[: -len(".cow-b")] + ".cow-a"
    return old_path + ".cow-a"


def _swap(catalog, table: str, new_path: str, schema) -> None:
    """Re-register `table` at the sibling just written and delete the
    PREVIOUS sibling. The ORIGINAL path is never deleted — we may not
    own it (a mounted dataset)."""
    old_path = catalog.tables[table].path.rstrip("/")
    # register with the schema just written — the next table() call
    # skips the parquet schema-inference job (same write-site pattern
    # as the MV tile registrations)
    catalog.register(table, new_path, schema=schema)
    owned = _owned(catalog)
    owned.add(new_path)
    if old_path != new_path and old_path in owned:
        shutil.rmtree(old_path, ignore_errors=True)
        owned.discard(old_path)


def _rewrite(catalog, table: str, df: DataFrame) -> None:
    """Copy-on-write swap: write to a sibling path, re-register, and
    delete the previous sibling."""
    new_path = _sibling_path(catalog, table)
    # the write EXECUTES the read of the old path (eager action), so
    # after it returns the previous sibling is dead weight
    df.write.mode("overwrite").parquet(new_path)
    _swap(catalog, table, new_path, df.schema)


def _observed(obs: Observation, *names: str) -> dict:
    """The counts an Observation collected during the write that ran
    its DataFrame. The observations here sit where only an empty input
    removes them: AQE's empty-relation propagation drops the join of an
    empty MERGE target, observed nodes included, and Spark then
    completes the observation with an empty row, which
    `Observation.get` cannot convert — so the row is read on the JVM
    side first, and every count of a missing row is 0."""
    if obs._jo.getRow().length() == 0:
        return dict.fromkeys(names, 0)
    return obs.get


def insert_into(
    catalog,
    table: str,
    rows: DataFrame,
    partition_by: tuple = (),
    dynamic_overwrite: bool = False,
) -> None:
    """INSERT INTO (append) — df.write.insertInto semantics; with
    partition columns + dynamic_overwrite, INSERT OVERWRITE PARTITION."""
    entry = catalog.tables[table]
    writer = rows.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if dynamic_overwrite:
        rows.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        writer.mode("overwrite").parquet(entry.path)
    else:
        writer.mode("append").parquet(entry.path)
    catalog.register(table, entry.path)  # refresh cached df


def delete_where(catalog, table: str, condition: str) -> int:
    """DELETE FROM t WHERE cond → keep the complement. Returns #deleted.

    The kept set is NOT cond OR cond IS NULL, the exact complement of
    the deleted rows, so #deleted = rows before − rows after, both read
    from the parquet footers of the files the rewrite reads and writes:
    no Spark job runs besides the write. (A count observed on the plan
    would be lost: a condition that folds to TRUE makes the kept filter
    FALSE, and Spark prunes the whole input, observed node included.)
    `before` is taken from the handle's own files, not the entry's
    cached count, which may predate an append."""
    before = catalog.footer_rows(table)
    if before is None:  # not read from local parquet: one count() job
        before = catalog.row_count(table)
    _rewrite(
        catalog,
        table,
        catalog.table(table).filter(f"NOT ({condition}) OR ({condition}) IS NULL"),
    )
    return before - catalog.row_count(table)


def update_set(
    catalog,
    table: str,
    assignments: dict[str, str],
    condition: str,
    post_assignments: "dict[str, str] | None" = None,
) -> int:
    """UPDATE t SET col = expr WHERE cond (copy-on-write).

    SQL's UPDATE is SIMULTANEOUS: every RHS and the condition evaluate
    against the ORIGINAL row (so `SET a = b, b = a` swaps) — one select
    over the original columns, never a chained withColumn (which would
    let later assignments and the re-evaluated condition see already-
    updated values; found by the generated-column recompute, r8).
    `post_assignments` run in a SECOND pass whose RHS see the
    post-update row — the generated-column recompute hook (applied to
    every row; generator expressions are deterministic, so recomputing
    unchanged rows is a no-op). The #updated count is observed on the
    rewrite's input and rides the write job. A NULL condition updates
    no row: coalesce types a bare NULL as BOOLEAN, which CASE WHEN
    requires, and still rejects a non-boolean one such as `1`."""
    cond = F.expr(f"coalesce(({condition}), false)")
    obs = Observation()
    df = catalog.table(table).observe(obs, F.count(F.when(cond, 1)).alias("n"))
    out = df.select(
        *[
            F.when(cond, F.expr(assignments[c])).otherwise(F.col(c)).alias(c)
            if c in assignments
            else F.col(c)
            for c in df.columns
        ]
    )
    if post_assignments:
        out = out.select(
            *[
                F.expr(post_assignments[c]).alias(c)
                if c in post_assignments
                else F.col(c)
                for c in out.columns
            ]
        )
    _rewrite(catalog, table, out)
    return _observed(obs, "n")["n"]


def merge_into(
    catalog,
    target: str,
    source: DataFrame,
    on: str,
    when_matched_update: dict[str, str] | None = None,
    when_not_matched_insert: bool = True,
    when_matched_delete: bool = False,
    insert_values: dict[str, str] | None = None,
) -> dict:
    """MERGE INTO target USING source ON cond — the Delta-style upsert as
    a single FULL-outer-shaped plan:

      matched+update → target rows joined to source get the assignments
      matched+delete → drop matched target rows
      not-matched    → insert source rows with no target match

    Implemented as target⟕source (left) for the update/delete arm plus
    source-anti-target for inserts — two hash joins on the merge key, no
    row explosion (caller guarantees source has unique keys, as MERGE
    requires; duplicate source keys raise like Delta does).

    Every count rides the write job as an Observation on the arm that
    produces it: target rows entering the left join, joined rows and
    their source matches (count of the literal marker column), and the
    anti-join insert rows. Only an insert-only MERGE, whose write plan
    has no join, runs one semi-join count for `matched`.
    """
    tdf = catalog.table(target)
    cond = F.expr(on)
    modifies = bool(when_matched_update or when_matched_delete)

    updated = tdf
    n_matched = None
    if modifies:
        obs_target, obs_joined = Observation(), Observation()
        # literal marker column: src_marker must not depend on parsing
        # the condition (review r8) — a NULL marker after the LEFT join
        # means "no source match" for ANY condition shape
        marked = source.withColumn("__merge_src__", F.lit(True))
        observed = tdf.observe(obs_target, F.count(F.lit(1)).alias("n"))
        joined = (
            observed.join(marked, cond, "left")
            .observe(
                obs_joined,
                F.count(F.lit(1)).alias("n"),
                F.count("__merge_src__").alias("matched"),
            )
        )
        if when_matched_delete:
            # the unmatched rows of the same marked join: the target
            # columns by reference, so a source column of the same
            # name cannot make them ambiguous
            updated = joined.filter("__merge_src__ IS NULL").select(
                *[observed[c] for c in tdf.columns]
            )
        else:
            src_marker = F.col("__merge_src__").isNotNull()
            updated = joined.select(
                *[
                    F.when(src_marker, F.expr(when_matched_update[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                    if c in when_matched_update
                    else F.col(c)
                    for c in tdf.columns
                ]
            )
    else:
        # matched-but-untouched rows are reported, not written: the
        # write plan has no join to observe them on
        n_matched = tdf.join(source, cond, "left_semi").count()

    if when_not_matched_insert:
        # WHEN NOT MATCHED THEN INSERT (cols) VALUES (exprs): explicit
        # mapping target-col -> source expr; unmapped target cols default
        # to same-name source col or NULL
        obs_inserted = Observation()
        mapping = insert_values or {}
        inserts = (
            source.join(tdf, cond, "left_anti")
            .observe(obs_inserted, F.count(F.lit(1)).alias("n"))
            .select(
                *[
                    F.expr(mapping[c]).alias(c)
                    if c in mapping
                    else (F.col(c) if c in source.columns else F.lit(None).alias(c))
                    for c in tdf.columns
                ]
            )
        )
        updated = updated.unionByName(inserts)

    # write beside the target first: the counts below ride this job
    new_path = _sibling_path(catalog, target)
    updated.write.mode("overwrite").parquet(new_path)
    # MERGE precondition: no target row may match MULTIPLE source rows
    # (Delta throws DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET). The left
    # join emits one row per (target, source) match and one per
    # unmatched target row, so it outgrows the target exactly when some
    # target row matches twice — CONDITION-AGNOSTIC (review r8:
    # on.split('=') key extraction broke on compound or reversed-
    # operand conditions). Checked before the swap, so a failing MERGE
    # deletes its sibling and leaves the table untouched.
    if modifies and (
        _observed(obs_joined, "n", "matched")["n"]
        > _observed(obs_target, "n")["n"]
    ):
        shutil.rmtree(new_path, ignore_errors=True)
        raise ValueError("MERGE: multiple source rows match the same key")
    _swap(catalog, target, new_path, updated.schema)
    if modifies:
        n_matched = _observed(obs_joined, "n", "matched")["matched"]
    n_inserted = _observed(obs_inserted, "n")["n"] if when_not_matched_insert else 0
    return {
        "matched": n_matched,
        "inserted": n_inserted,
        # matched-but-untouched rows are NOT modifications: an
        # insert-only MERGE must not count its matches (review r8)
        "rows_modified": (n_matched if modifies else 0) + n_inserted,
    }


def register_csv(catalog, name: str, path: str, **options) -> None:
    """CSV adapter ≈ file/CsvTranslatableTable.java:48 — spark.read.csv
    does projection+filter pushdown natively (CsvProjectTableScanRule)."""
    catalog.register(name, path, fmt="csv", header="true", inferSchema="true", **options)


def register_json(catalog, name: str, path: str, **options) -> None:
    """JSON adapter ≈ file/JsonScannableTable.java."""
    catalog.register(name, path, fmt="json", **options)


def clone_in_memory(catalog, name: str, as_name: str | None = None):
    """In-memory clone adapter ≈ adapter/clone/ArrayTable.java:62: cache a
    snapshot (Spark columnar cache is the ArrayTable analog)."""
    df = catalog.table(name).cache()
    df.count()  # materialize
    catalog.register_df(as_name or f"{name}_clone", df)
    return df
