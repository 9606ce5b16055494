"""Catalog: schema/table registry ≈ Calcite Schema/SchemaPlus/Table
(reference: core/src/main/java/org/apache/calcite/schema/Schema.java,
Table.java, Statistic.java:37-65) plus the JSON model loader
(model/JsonRoot.java, ModelHandler.java).

Tables are parquet directories (or any spark.read-able source) registered
as temp views; statistics (row counts, distinct counts) feed the rewrite
layer's broadcast/MV decisions the way Calcite's Statistic feeds the
Volcano cost model.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough (at any realistic SF — region/nation are fixed-size
# dimension tables in TPC-H) to always broadcast in joins.
SMALL_DIMENSIONS = {"region", "nation"}

# Parquet TIMESTAMP(NANOS) columns: Spark's reader rejects them
# (PARQUET_TYPE_ILLEGAL); with spark.sql.legacy.parquet.nanosAsLong they
# arrive as bigint nanos and the catalog converts to microsecond
# timestamps (floor division — matches DuckDB's ns→us cast).
NANOS_TS_COLS = {"events": ("ts",)}


@dataclass
class TableEntry:
    """≈ schema/Table.java + Statistic.java: source + stats."""

    name: str
    path: str
    fmt: str = "parquet"
    row_count: int | None = None
    options: dict = field(default_factory=dict)
    stats: dict | None = None  # ANALYZE output (exec.profile shape)
    # discovered by analyze_deep (exec.profile_deep) ≈ what Statistic.java
    # exposes via getKeys() / RelMdColumnUniqueness
    unique_keys: list[tuple] = field(default_factory=list)
    # declared referential constraints ≈ Statistic.java
    # getReferentialConstraints(): (column, ref_table, ref_column)
    foreign_keys: list[tuple] = field(default_factory=list)
    # Hilbert-curve CHECK constraint ≈ SpatialRules.java:78
    # "CHECK (h = Hilbert(order, x, y))" — set by
    # register_hilbert_constraint, consumed by the FilterHilbert rule
    hilbert: dict | None = None
    # known read schema (r15, guide §1.2 "don't compute things you throw
    # away"): when the registrant just WROTE the files (MV tile builds,
    # refresh merges), re-inferring the schema from parquet footers is a
    # redundant Spark job per read — pass the written DataFrame's schema
    # and table() skips inference. None = infer as before.
    schema: object | None = None


# In-process memo of what a table's files answer without a Spark job:
# the parquet schema (r15, guide §1.2: every fresh Catalog re-inferred
# it with one job per table) and NDV probes (≈ Statistic.java: a
# statistic is read, not re-queried). Values are metadata only, live
# only for the process, and are keyed by snapshot_key: a digest of
# (relpath, size, mtime_ns) per file, so an append into a partition
# subdirectory or an in-place rewrite that keeps the file name changes
# the key. entry.schema (set by writers that know what they wrote)
# takes precedence over the schema memo.
_FILE_MEMO: dict = {}


def _walk(path: str) -> list | None:
    """Every file under `path`, recursively (`path` itself when it is a
    file); None when the path cannot be listed."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        return None
    return [os.path.join(root, f) for root, _, files in os.walk(path) for f in files]


def _local_files(df: DataFrame) -> list | None:
    """Local paths of the files a DataFrame reads (its driver-side file
    listing, no job); None when one is not a local file."""
    out = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            return None
        out.append(unquote(u.path))
    return out


def _footer_rows(files) -> int | None:
    """Sum of the parquet footers' row counts; None when a file is not
    readable parquet."""
    import pyarrow.parquet as pq

    try:
        return sum(pq.read_metadata(f).num_rows for f in files)
    except Exception:
        return None


def snapshot_key(entry, files=None):
    """The memo key of a parquet table's files: path, reader options,
    nanos columns and known schema, plus a digest of (relpath, size,
    mtime_ns) for each of `files` (default: every file under the path).
    None when the table is not file-backed parquet (other formats,
    registered DataFrames) or a file cannot be read."""
    if entry is None or entry.fmt != "parquet" or not entry.path:
        return None
    if files is None:
        files = _walk(entry.path)
    if files is None:
        return None
    digest = hashlib.blake2b(digest_size=16)
    try:
        for f in sorted(files):
            st = os.stat(f)
            rel = os.path.relpath(f, entry.path)
            digest.update(f"{rel}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    except OSError:
        return None
    return (
        entry.path,
        tuple(sorted(entry.options.items())),
        NANOS_TS_COLS.get(entry.name, ()),
        entry.schema.simpleString() if entry.schema is not None else None,
        digest.digest(),
    )


def memo_get(key, what):
    """The memoized value of `what` under a snapshot_key (None: none)."""
    return _FILE_MEMO.get((key, what)) if key is not None else None


def memo_put(key, what, value) -> None:
    if key is not None:
        if len(_FILE_MEMO) > 4096:
            _FILE_MEMO.clear()  # bound driver memory; refill on demand
        _FILE_MEMO[(key, what)] = value


class Catalog:
    """Named map of tables ≈ SchemaPlus; mounts parquet dirs as views."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.tables: dict[str, TableEntry] = {}
        self._dfs: dict[str, DataFrame] = {}
        self.materialized_views: dict[str, dict] = {}
        # Engine-critical confs that are runtime-settable: applied here so
        # correctness (UTC timestamp semantics vs UTC-naive parquet) and
        # sane local parallelism hold even on a caller-built session
        # (the verify driver constructs its own SparkSession).
        try:
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            if spark.conf.get("spark.sql.shuffle.partitions") == "200":
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    str(spark.sparkContext.defaultParallelism),
                )
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        except Exception:
            pass  # conf locked down — proceed with session defaults
        # SQL/JSON path engine (strict/lax): cs_json_* Pandas UDFs that
        # registry templates reference (functions/json_path.py).
        from calcite_spark.functions.json_path import register_json_udfs

        register_json_udfs(spark)
        # WKT parse slow path for the spatial library (functions/spatial.py)
        from calcite_spark.functions.spatial import register_spatial_udfs

        register_spatial_udfs(spark)

    # -- registration -------------------------------------------------
    def register_parquet_dir(self, sf_dir: str, tables=TPCH_TABLES) -> "Catalog":
        """Mount every <sf_dir>/<name>.parquet as table <name>."""
        for name in tables:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register(name, path)
        return self

    def register(
        self, name: str, path: str, fmt: str = "parquet", schema=None, **options
    ) -> None:
        self.tables[name] = TableEntry(
            name=name, path=path, fmt=fmt, options=options, schema=schema
        )
        self._dfs.pop(name, None)

    def register_df(self, name: str, df: DataFrame) -> None:
        """Register an in-memory DataFrame (≈ TransientTable / temp view)."""
        self.tables[name] = TableEntry(name=name, path="", fmt="view")
        self._dfs[name] = df
        df.createOrReplaceTempView(name)

    def load_model(self, model_path: str) -> "Catalog":
        """JSON model file ≈ model/ModelHandler.java: {"tables": [{name, path,
        format?, options?}], "materializations": [{name, path, sql}],
        "lattices": [...]} — the lattices entry (r11) mirrors
        model/JsonLattice.java:40 (star sql or fact+joins, tiles with
        dimensions/measures) and mounts each tile as a substitutable
        join MV, so a declarative model file stands up the whole
        star-plus-tiles stack without Python against the registry."""
        with open(model_path) as f:
            model = json.load(f)
        for t in model.get("tables", []):
            self.register(t["name"], t["path"], t.get("format", "parquet"), **t.get("options", {}))
        for mv in model.get("materializations", []):
            self.register_materialization(mv["name"], mv["path"], mv.get("sql", ""))
        if model.get("functions"):
            # ≈ JsonFunction loaded by ModelHandler.addFunctions — same
            # loader the DDL CREATE FUNCTION statement uses
            from calcite_spark.functions.udf import load_functions_from_model

            load_functions_from_model(self, model["functions"])
        for v in model.get("views", []):
            # ≈ JsonView (a named SQL view over the model's tables):
            # referenced tables must be mounted as temp views first
            for t in model.get("tables", []):
                self.table(t["name"])
            self.register_df(v["name"], self.spark.sql(v["sql"]))
        for lat in model.get("lattices", []):
            self._mount_lattice(lat, model.get("warehouse"))
        return self

    def _mount_lattice(self, lat: dict, default_warehouse: str | None) -> None:
        """Mount one JsonLattice-style entry: resolve the star (either
        the reference's `sql` form — `SELECT * FROM fact JOIN dim ON
        f = d [AND f2 = d2 ...] ...` parsed like Lattice.Builder walks
        JsonLattice's joins, accepting AND-of-equalities per JOIN the
        way Lattice.java:201 iterates RelOptUtil.conjunctions — or
        structured {fact, joins:[{dim, fact_col, dim_col}]} where
        fact_col/dim_col are a column or an equal-length list of
        columns (composite FK)) and materialize each tile via the MV
        registry so the substitution tiers serve it. Non-equi join
        terms refuse loudly. Dimension-poor models are cheap: the tile
        build is the only fact scan."""
        import re

        from calcite_spark.plans.builder import RelBuilder
        from calcite_spark.plans.materialize import MaterializationRegistry
        from calcite_spark.sql import lexer

        reg = getattr(self, "mv_registry", None)
        if reg is None:
            reg = MaterializationRegistry()
            self.mv_registry = reg
        warehouse = lat.get("warehouse") or default_warehouse
        if not warehouse:
            raise ValueError(
                "lattice entry needs a 'warehouse' directory for its tiles"
            )
        if "sql" in lat:
            sql = lat["sql"].strip().rstrip(";")
            m = re.match(
                r"(?is)^SELECT\s+\*\s+FROM\s+(\w+)\s*(.*)$", sql
            )
            if m is None:
                raise ValueError(
                    f"lattice sql must be SELECT * FROM fact JOIN ...: {sql!r}"
                )
            fact, rest = m.group(1), m.group(2)
            joins = []
            mounted = [fact]
            # each JOIN segment is an AND of equalities (composite FKs
            # are routine in warehouses — Lattice.java:201 iterates
            # RelOptUtil.conjunctions of the ON); any NON-equi term
            # must refuse loudly: a parser that kept only the
            # equalities would build a tile over a DIFFERENT join
            # (more rows) and serve wrong values ever after
            segs = re.split(r"(?i)\bJOIN\s+", rest)
            if segs[0].strip():
                raise ValueError(
                    f"lattice sql: unparsed text before first JOIN: {segs[0]!r}"
                )
            for seg in segs[1:]:
                jm = re.fullmatch(r"(?is)(\w+)\s+ON\s+(.+?)\s*", seg)
                if jm is None:
                    raise ValueError(
                        "lattice sql joins must each be 'JOIN dim ON "
                        f"...'; got: JOIN {seg.strip()!r}"
                    )
                dim, cond = jm.groups()
                pairs = []
                owners_here = set()
                for term in re.split(r"(?i)\s+AND\s+", cond):
                    em = re.fullmatch(r"(?s)\s*(\w+)\s*=\s*(\w+)\s*", term)
                    if em is None:
                        raise ValueError(
                            "lattice sql join conditions must be "
                            "equalities (optionally AND-ed); got "
                            f"non-equi term {term.strip()!r} in JOIN {dim}"
                        )
                    owner, lc, dc = self._resolve_join_sides(
                        mounted, dim, *em.groups()
                    )
                    owners_here.add(owner)
                    pairs.append((lc, dc))
                if len(owners_here) > 1:
                    # one FK has ONE owning table; a join whose
                    # equalities span two left tables has no composite
                    # FK to declare and no peel proof — refuse loudly
                    raise ValueError(
                        f"lattice join to {dim!r}: equalities reference "
                        f"multiple left tables {sorted(owners_here)!r} — "
                        "each JOIN must link the dimension to exactly "
                        "one previously joined table"
                    )
                joins.append((dim, pairs, owners_here.pop()))
                mounted.append(dim)
        else:
            fact = lat["fact"]
            joins = []
            for j in lat.get("joins", []):
                fcs, dcs = j["fact_col"], j["dim_col"]
                if isinstance(fcs, str) != isinstance(dcs, str):
                    raise ValueError(
                        f"lattice join to {j['dim']!r}: fact_col and "
                        "dim_col must both be strings or equal-length lists"
                    )
                if isinstance(fcs, str):
                    fcs, dcs = [fcs], [dcs]
                if len(fcs) != len(dcs) or not fcs:
                    raise ValueError(
                        f"lattice join to {j['dim']!r}: fact_col and "
                        "dim_col lists must be non-empty and equal length"
                    )
                fact_cols = set(self.table(fact).columns)
                dim_cols = set(self.table(j["dim"]).columns)
                for fc, dc in zip(fcs, dcs):
                    if fc not in fact_cols:
                        raise ValueError(
                            f"lattice join: {fc!r} is not a column of "
                            f"fact table {fact!r}"
                        )
                    if dc not in dim_cols:
                        raise ValueError(
                            f"lattice join: {dc!r} is not a column of "
                            f"dimension table {j['dim']!r}"
                        )
                joins.append((j["dim"], list(zip(fcs, dcs)), fact))
        for dim, pairs, owner in joins:
            # single-equality joins declare the scalar FK; composite
            # joins declare a COMPOSITE FK (r12) — a per-column FK
            # would be a STRONGER, unvouched claim (each column alone
            # need not hit the dim). The composite FK feeds the peel
            # prover once analyze_deep verifies the dim's composite
            # unique key and ANALYZE grounds the fact columns' NULLs.
            # The FK's owner is the join's LEFT table — the fact for
            # star joins, an earlier dimension for snowflake chains.
            self.declare_foreign_key(
                owner,
                [fc for fc, _ in pairs],
                dim,
                [dc for _, dc in pairs],
            )
        tiles = list(lat.get("tiles", []))
        if not tiles and lat.get("algorithm"):
            # ≈ JsonLattice.algorithm: true — when the model declares no
            # tiles, run the tile-suggestion algorithm over the lattice's
            # dimensions/defaultMeasures (TileSuggester invoked by
            # Lattice.Builder). Heuristic mirrors suggest_tiles: the
            # finest all-dims tile (the drill-down base) plus the
            # lowest-NDV single dims (biggest compression first), NDVs
            # grounded per owning table (ANALYZE stats when present).
            dims = list(lat.get("dimensions") or [])
            measures = list(lat.get("defaultMeasures") or lat.get("measures") or [])
            if not dims or not measures:
                raise ValueError(
                    "lattice algorithm mode needs 'dimensions' and "
                    "'defaultMeasures' to suggest tiles from"
                )
            from calcite_spark.plans.materialize import LatticeSuggester

            owners = [fact] + [d for d, _, _ in joins]
            ndvs = {
                d: LatticeSuggester._key_ndv(self, d, owners) for d in dims
            }
            if any(v is None for v in ndvs.values()):
                bad = [d for d, v in ndvs.items() if v is None]
                raise ValueError(
                    f"lattice algorithm mode: dimension {bad[0]!r} not "
                    "found on any joined table"
                )
            ranked = sorted(dims, key=lambda d: ndvs[d])
            max_tiles = int(lat.get("maxTiles", 3))
            picked = [tuple(ranked)] + [
                (d,) for d in ranked[: max(0, max_tiles - 1)] if len(dims) > 1
            ]
            # benefit gate (r12, verdict item 8): algorithm-mode picks
            # go through the same joint-NDV gate as suggester proposals
            # (≈ TileSuggester's cost-based algorithm declining
            # near-fact-grain tiles) — a model declaring a unique-key
            # dimension must not build an all-cost-no-benefit tile the
            # suggester path would decline. Decisions land on
            # catalog.model_decisions (and on an already-attached
            # suggester's trail) — the gate must NOT attach a suggester
            # itself, which would silently turn on per-query corpus
            # recording for the rest of the session (r12 review).
            # benefitThreshold: null in the model disables the gate,
            # mirroring auto_build(benefit_threshold=None).
            attached = getattr(self, "lattice_suggester", None)
            gate = attached if attached is not None else LatticeSuggester()
            if not hasattr(self, "model_decisions"):
                self.model_decisions = []
            threshold = lat.get("benefitThreshold", 0.5)
            kept = []
            for t in picked:
                if threshold is None:
                    kept.append(t)
                    continue
                if len(t) == 1:
                    # single-dim picks reuse the NDV measured for the
                    # ranking two lines above — no second table scan.
                    # row_count() itself is cached, and ANALYZE fills
                    # that same cache (entry.stats is never set without
                    # entry.row_count), so an analyzed or previously
                    # counted fact costs nothing here; only a fact with
                    # NO stats of any kind pays one count, once
                    # (ADVICE r12 scoped down in the r13 review: a
                    # stats-first helper was a dead copy of
                    # _estimate_benefit.rows()).
                    est = ndvs[t[0]]
                    fact_rows = max(
                        self.row_count(tb)
                        for tb in ([fact] if not joins else owners)
                    )
                else:
                    proposal = {
                        "group_keys": list(t),
                        "table": None if joins else fact,
                        "tables": owners if joins else None,
                    }
                    est, fact_rows = gate._estimate_benefit(self, proposal)
                ratio = 1.0 if est is None else est / max(fact_rows, 1)
                decision = {
                    "source": f"model_lattice:{lat.get('name', 'lattice')}",
                    "proposal_keys": list(t),
                    "tables": owners,
                    "estimated_tile_rows": est,
                    "fact_rows": fact_rows,
                    "ratio": ratio,
                    "threshold": float(threshold),
                    "built": ratio <= float(threshold),
                }
                self.model_decisions.append(decision)
                if attached is not None:
                    attached.decisions.append(decision)
                if decision["built"]:
                    kept.append(t)
            tiles = [
                {"dimensions": list(t), "measures": measures} for t in kept
            ]
        for i, tile in enumerate(tiles):
            name = tile.get("name") or f"{lat.get('name', 'lattice')}_tile{i}"
            measures = []
            aliases = []
            for j, c in enumerate(tile["measures"]):
                if isinstance(c, str):
                    # string-form measures join the collision set too
                    # (r12 review: "SUM(a) AS rev" + {..., name: rev}
                    # used to slip past the guard and die later with
                    # an opaque duplicate-column error)
                    alias = lexer.split_alias(c)[1]
                    if alias is not None:
                        if alias in aliases:
                            raise ValueError(
                                f"lattice tile {name!r}: duplicate "
                                f"measure alias {alias!r} — name "
                                "the measures distinctly"
                            )
                        aliases.append(alias)
                    measures.append(c)
                    continue
                # JsonTile measure objects: {"agg": "sum", "args": "x",
                # "name"?: alias} (model/JsonLattice.java's
                # defaultMeasures). The default alias carries the
                # per-measure index (ADVICE r11: two unnamed measures
                # with the same agg — SUM(a), SUM(b) — collided on one
                # output column)
                alias = c.get("name", "m{}_{}_{}".format(i, j, c["agg"]))
                if alias in aliases:
                    raise ValueError(
                        f"lattice tile {name!r}: duplicate measure "
                        f"alias {alias!r} — name the measures distinctly"
                    )
                aliases.append(alias)
                measures.append(
                    f"{c['agg'].upper()}({c.get('args', '*')}) AS {alias}"
                )
            dims = list(tile.get("dimensions") or tile.get("dims") or [])
            if not dims:
                raise ValueError(f"lattice tile {name!r} declares no dimensions")
            if joins:
                b = RelBuilder(self)
                b.scan(fact)
                for dim, pairs, _owner in joins:
                    # snowflake chains compose naturally here: the
                    # accumulated left tree already carries the owner
                    # dimension's columns, so the same equality text
                    # resolves whether the owner is the fact or an
                    # earlier dim (join order follows the model's)
                    b.scan(dim)
                    b.join(" AND ".join(f"{fc} = {dc}" for fc, dc in pairs))
                b.aggregate(dims, measures)
                reg.define_join(
                    self, name, b.build(),
                    os.path.join(warehouse, name), fact=fact,
                )
            else:
                reg.define(
                    self, name, fact, dims, measures,
                    os.path.join(warehouse, name),
                )

    def _resolve_join_sides(
        self, mounted: list, dim: str, a: str, b: str
    ) -> tuple[str, str, str]:
        """Orient one lattice-join equality as (owner, owner_col,
        dim_col), where owner is the SINGLE previously mounted table
        (the fact, or — snowflake chains, ADVICE r12 — an earlier
        dimension; the reference's Lattice.Builder accepts a JOIN
        whose ON references a previously joined dim) the left side
        belongs to. Each identifier must resolve to EXACTLY one table
        across {mounted tables} ∪ {dim} (ADVICE r11: a typo'd name was
        silently treated as the fact column and declared a bogus FK; a
        name on two tables was resolved arbitrarily).
        Refuse-over-guess, like the rest of the model loader."""
        dim_cols = set(self.table(dim).columns)
        sides = {}
        for ident in (a, b):
            owners = [
                t for t in mounted if ident in set(self.table(t).columns)
            ]
            in_d = ident in dim_cols
            if not owners and not in_d:
                raise ValueError(
                    f"lattice join: {ident!r} is a column of neither "
                    f"dimension {dim!r} nor any previously joined "
                    f"table {mounted!r}"
                )
            if (owners and in_d) or len(owners) > 1:
                both = owners + ([dim] if in_d else [])
                raise ValueError(
                    f"lattice join: {ident!r} exists on more than one "
                    f"table ({both!r}) — qualify the model with "
                    "distinct column names; refusing to guess the side"
                )
            sides[ident] = dim if in_d else owners[0]
        if (sides[a] == dim) == (sides[b] == dim):
            raise ValueError(
                f"lattice join: {a!r} and {b!r} resolve to "
                f"{sides[a]!r} and {sides[b]!r} — each equality must "
                f"link the new dimension {dim!r} to exactly one "
                "previously joined table"
            )
        if sides[a] == dim:
            return (sides[b], b, a)
        return (sides[a], a, b)

    def register_materialization(self, name: str, path: str, sql: str) -> None:
        """≈ materialize/MaterializationService.defineMaterialization."""
        self.materialized_views[name] = {"path": path, "sql": sql}

    # -- access -------------------------------------------------------
    def table(self, name: str) -> DataFrame:
        if name in self._dfs:
            return self._dfs[name]
        if name not in self.tables and name in getattr(self, "external_tables", {}):
            # foreign-schema table used OUTSIDE federate(): the
            # JdbcTableScan floor — fetch the whole remote table once.
            # (federate() replaces scans before this runs, so pushed
            # subtrees never hit this path.)
            engine = self.external_tables[name]
            tbl = engine.execute_arrow(f"SELECT * FROM {name}")
            df = self.spark.createDataFrame(tbl.to_pandas())
            self._dfs[name] = df
            df.createOrReplaceTempView(name.replace(".", "__"))
            return df
        entry = self.tables[name]
        if name in NANOS_TS_COLS:
            # settable at runtime, so this also works when the caller
            # (e.g. the verify driver) built its own SparkSession
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = self.spark.read
        if entry.options:
            reader = reader.options(**entry.options)
        known, key = entry.schema, None
        if known is None:
            key = snapshot_key(entry)
            known = memo_get(key, "schema")
        if known is not None:
            reader = reader.schema(known)
        df = reader.format(entry.fmt).load(entry.path)
        if known is None:
            memo_put(key, "schema", df.schema)
        for col in NANOS_TS_COLS.get(name, ()):
            if dict(df.dtypes).get(col) == "bigint":
                df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
        self._dfs[name] = df
        # schema-qualified names (CREATE SCHEMA s; s.t) mangle the dot —
        # Spark temp-view names cannot contain one; the frontend
        # rewrites qualified references to the mangled form
        df.createOrReplaceTempView(name.replace(".", "__"))
        return df

    def register_all_views(self) -> None:
        for name in self.tables:
            self.table(name)

    def is_broadcastable(self, name: str) -> bool:
        """Statically small dimensions always broadcast; an ANALYZEd (or
        profiler-discovered) row count under 100k also qualifies —
        discovered statistics widen the broadcast net beyond the static
        list the same way RelMdRowCount feeds Calcite's cost model.
        Never triggers a scan: unknown row counts stay non-broadcast."""
        if name in SMALL_DIMENSIONS:
            return True
        entry = self.tables.get(name)
        return entry is not None and entry.row_count is not None and entry.row_count <= 100_000

    # -- statistics ≈ Statistic.java / profile/ProfilerImpl.java ------
    def row_count(self, name: str) -> int:
        """Exact row count: ANALYZE's when present, else the parquet
        footers of the files table(name) reads, else one count() job.
        Cached on the TableEntry like ANALYZE's."""
        entry = self.tables[name]
        if entry.row_count is None:
            n = self.footer_rows(name)
            entry.row_count = n if n is not None else self.table(name).count()
        return entry.row_count

    def footer_rows(self, name: str) -> int | None:
        """Row count of what table(name) reads, summed from the parquet
        footers of its files — no Spark job, never cached. None when
        the table is not read from local parquet files."""
        entry = self.tables[name]
        if entry.fmt != "parquet" or not entry.path:
            return None
        files = _local_files(self.table(name))
        return None if files is None else _footer_rows(files)

    def files_key(self, name: str):
        """snapshot_key of the files table(name) reads — values probed
        on that DataFrame are memoized under it, so a cached handle
        whose listing predates an append never files its answer under
        the newer files' key. None when not read from local parquet."""
        entry = self.tables.get(name)
        if entry is None or entry.fmt != "parquet" or not entry.path:
            return None
        files = _local_files(self.table(name))
        return None if files is None else snapshot_key(entry, files)

    def analyze(self, name: str, columns=None, exact: bool = False) -> dict:
        # exact=True (r15): count(DISTINCT) instead of the rsd=0.01 HLL
        # sketch — the sketch's 2^14-register buffer makes Spark generate
        # a >JIT-limit aggregate per query shape (measured 2-5 s PER
        # approx_count_distinct(col, 0.01) on a 20-row table, every new
        # plan). For small/test inputs exact is both faster and noise-free
        # for the 0.95/0.98 uniqueness gates; sketch mode stays the
        # default and the 100 TB posture.
        """ANALYZE TABLE ≈ collecting Statistic.java's contents via
        profile/ProfilerImpl: one scan fills row count + per-column
        ndv/nulls/min-max, cached on the TableEntry. The join-order cost
        model upgrades equi-join selectivity to the System-R
        1/max(NDV) form for analyzed columns (RelMdDistinctRowCount)."""
        from calcite_spark.exec import profile

        stats = profile(self, name, columns, exact=exact)
        entry = self.tables[name]
        entry.stats = stats
        entry.row_count = stats["rows"]
        return stats

    def analyze_deep(
        self, name: str, columns=None, max_pairs: int = 64, exact: bool = False
    ) -> dict:
        """Depth-2 ANALYZE ≈ ProfilerImpl's lattice walk feeding
        Statistic.getKeys() / RelMdColumnUniqueness: beyond per-column
        ndv/nulls/min-max, DISCOVERS unique keys (singleton + composite)
        and functional dependencies and registers them on the TableEntry
        so the join-order cost model and broadcast decisions consume
        discovered — not just declared — structure.

        Key candidates from the sketch lattice walk are VERIFIED with
        one exact pass before registration (r5 review): the 0.95 HLL
        threshold admits columns that are merely ~95% distinct, and a
        registered unique key is a GUARANTEE downstream —
        MetadataQuery.unique_keys feeds grounded broadcast decisions
        and column_ndv pins ndv = row count from it. A key registers
        only when count(DISTINCT key) == count(*) exactly (which also
        enforces the no-NULLs key contract). Three scans total: two
        sketch passes + the bounded verification aggregate over
        candidate columns only; FDs stay sketch-grade (they feed cost
        estimates, never correctness)."""
        from calcite_spark.exec import profile_deep

        stats = profile_deep(self, name, columns, max_pairs=max_pairs, exact=exact)
        entry = self.tables[name]
        entry.stats = stats
        entry.row_count = stats["rows"]
        cands = [tuple(k) for k in stats["unique_keys"]]
        verified = []
        if cands:
            def key_expr(k):
                inner = (
                    k[0] if len(k) == 1
                    else "struct(" + ", ".join(k) + ")"
                )
                return f"count(DISTINCT {inner})"

            exprs = ["count(*) AS __n"] + [
                f"{key_expr(k)} AS __k{i}" for i, k in enumerate(cands)
            ]
            row = self.table(name).selectExpr(*exprs).collect()[0]
            verified = [k for i, k in enumerate(cands) if row[i + 1] == row[0]]
        stats["unique_keys"] = verified
        entry.unique_keys = verified
        return stats

    def register_hilbert_constraint(
        self,
        name: str,
        h_col: str,
        x_col: str,
        y_col: str,
        order: int,
        bounds: tuple[float, float, float, float],
    ) -> None:
        """Declare that `h_col` holds the Hilbert index of (x_col, y_col)
        ≈ the CHECK (h = Hilbert(order, x, y)) constraint SpatialRules'
        FilterHilbertRule keys on (SpatialRules.java:78). The constraint
        is a DECLARATION — the caller is responsible for having
        populated the column (functions/hilbert.hilbert_sql emits the
        exact expression) and ideally sorted/partitioned the table by
        it; the FilterHilbert rewrite then turns ST_DWITHIN point
        predicates into pushable index ranges."""
        self.tables[name].hilbert = {
            "h": h_col,
            "x": x_col,
            "y": y_col,
            "order": order,
            "bounds": tuple(bounds),
        }

    def is_unique_key(self, name: str, col: str) -> bool:
        """Is col a (discovered or declared) singleton unique key?"""
        entry = self.tables.get(name)
        return entry is not None and (col,) in entry.unique_keys

    def is_composite_unique_key(self, name: str, cols) -> bool:
        """Is the column SET a (discovered via analyze_deep) unique
        key? Order-insensitive — uniqueness is a property of the set
        (r12, the composite-FK peel prover)."""
        entry = self.tables.get(name)
        if entry is None:
            return False
        want = frozenset(cols)
        return any(frozenset(k) == want for k in entry.unique_keys)

    def declare_foreign_key(
        self, table: str, column, ref_table: str, ref_column
    ) -> None:
        """Declare a referential constraint ≈ Statistic.java
        getReferentialConstraints() / RelReferentialConstraint: every
        non-NULL `table.column` value has a matching `ref_table.
        ref_column` row. Like a registered unique key, a declared FK is
        a GUARANTEE the caller vouches for — the join-MV substitution
        tier (plans/materialize) combines it with the referenced
        column's uniqueness AND ANALYZE-grounded zero-NULL evidence on
        `table.column` (an FK is vacuous for NULLs) to prove an INNER
        join to the referenced dimension neither drops nor duplicates
        fact rows, so an MV joining extra FK-dimensions can still
        answer a query that never mentions them
        (MaterializedViewJoinRule's referential-constraint walk).

        column/ref_column may be equal-length LISTS for a COMPOSITE FK
        (r12): every row whose columns are ALL non-NULL has a matching
        ref tuple — stored as one tuple-valued entry, paired
        positionally. A composite FK is a strictly different claim
        than its per-column parts (each column alone need not hit the
        dim), so neither form implies the other."""
        if isinstance(column, str) != isinstance(ref_column, str):
            # mirror guard (r12 review): a scalar column paired with a
            # list ref_column used to store a malformed entry neither
            # membership check could ever match — a silent no-op FK
            raise ValueError(
                "foreign key columns must both be strings or both be "
                "equal-length lists"
            )
        if not isinstance(column, str):
            if len(column) != len(ref_column) or not column:
                raise ValueError(
                    "composite foreign key needs equal-length non-empty "
                    "column lists"
                )
            if len(column) == 1:
                column, ref_column = column[0], ref_column[0]
            else:
                column, ref_column = tuple(column), tuple(ref_column)
        fks = self.tables[table].foreign_keys
        if (column, ref_table, ref_column) not in fks:
            fks.append((column, ref_table, ref_column))

    def has_foreign_key(
        self, table: str, column: str, ref_table: str, ref_column: str
    ) -> bool:
        entry = self.tables.get(table)
        return entry is not None and (
            (column, ref_table, ref_column) in entry.foreign_keys
        )

    def has_composite_foreign_key(
        self, table: str, columns, ref_table: str, ref_columns
    ) -> bool:
        """Composite-FK membership, insensitive to the ORDER the
        column pairs are listed in (the pairing itself is what the
        declaration fixes)."""
        entry = self.tables.get(table)
        if entry is None:
            return False
        want = frozenset(zip(columns, ref_columns))
        for c, rt, rc in entry.foreign_keys:
            if rt != ref_table or isinstance(c, str):
                continue
            if frozenset(zip(c, rc)) == want:
                return True
        return False

    def column_ndv(self, name: str, col: str) -> int | None:
        entry = self.tables.get(name)
        if entry is not None and entry.stats:
            c = entry.stats["columns"].get(col)
            if c is not None:
                return c["ndv"]
        # no per-column stats, but a discovered unique key pins ndv = rows
        # (RelMdDistinctRowCount via RelMdColumnUniqueness)
        if entry is not None and (col,) in entry.unique_keys and entry.row_count:
            return entry.row_count
        return None


def open_catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    return Catalog(spark).register_parquet_dir(sf_dir)
