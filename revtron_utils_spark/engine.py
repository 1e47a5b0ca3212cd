"""The ``Engine`` — Spark-native replacement for the reference's
``Database`` class (``/root/reference/revtron/database/main.py``).

Same API surface (get / upsert / update / delete / create_table / catalog
introspection / execute_raw), executed by Spark instead of Postgres:

* kwargs → Column expressions → Catalyst logical plan → Tungsten, instead
  of kwargs → SQLAlchemy → SQL text → Postgres.
* Tables are named Parquet datasets: **attached** (external read-only
  paths, e.g. the test fixtures) or **managed** (warehouse directory the
  mutation suite writes to; ``io.replace_parquet``'s symlink flip, or a
  manifest commit in versioned mode, for crash safety).
* Spark has no enforced primary keys, so the PK registry replaces
  reflection-discovered PKs; ``upsert`` raises without one, mirroring
  ``main.py:97-99``.

Scale: reads are plain ``spark.read.parquet`` → full predicate/projection
pushdown; mutations rewrite via one full-outer merge (see
``operators/merge.py``) — on a cluster you'd swap the persistence layer
for Delta/Iceberg MERGE and keep the same expression generator.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dsl import Where, compile_where
from .io import read_parquet, replace_parquet
from .operators.merge import (
    MergeKeyError,
    delete_where,
    keyed_update,
    observe_hits,
    upsert_merge,
)

_SPARK_TYPES: dict[str, T.DataType] = {
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "text": T.StringType(),
    "varchar": T.StringType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "binary": T.BinaryType(),
}


def _to_spark_type(t: Any) -> T.DataType:
    if isinstance(t, T.DataType):
        return t
    key = str(t).strip().lower()
    if key in _SPARK_TYPES:
        return _SPARK_TYPES[key]
    # fall back to DDL parsing ("decimal(10,2)", "array<float>", ...)
    return T._parse_datatype_string(str(t))


@dataclass
class ColumnModel:
    """Declarative column spec — analog of the reference's pydantic
    ``Database.ColumnModel`` (``main.py:28-37``). ``foreign_key`` and
    ``default`` are informational metadata (Spark doesn't enforce
    constraints); ``default`` is applied on insert when the column is
    absent."""

    name: str
    type: Any = "string"
    nullable: bool = True
    default: Any = None
    primary_key: bool = False
    foreign_key: str | None = None

    def to_field(self) -> T.StructField:
        meta = {}
        if self.foreign_key:
            meta["foreign_key"] = self.foreign_key
        if self.primary_key:
            meta["primary_key"] = True
        return T.StructField(self.name, _to_spark_type(self.type), self.nullable, meta)


@dataclass
class Engine:
    """Spark-backed Database analog. ``schema`` mirrors the reference's
    Postgres schema name (default ``'public'``, ``main.py:39``) and is a
    logical namespace here."""

    spark: SparkSession
    warehouse_dir: str | None = None
    schema: str = "public"
    #: route managed tables through tables.VersionedTable: atomic
    #: manifest commits, snapshot isolation, time travel, file-pruned
    #: merges — the transactional upgrade of the symlink-swap layout
    versioned: bool = False
    pk_registry: dict[str, list[str]] = field(default_factory=dict)
    default_registry: dict[str, dict] = field(default_factory=dict)
    unique_registry: dict[str, list[list[str]]] = field(default_factory=dict)
    index_registry: dict[str, list[str]] = field(default_factory=dict)
    fk_registry: dict[str, dict[str, str]] = field(default_factory=dict)
    _attached: dict[str, str] = field(default_factory=dict)
    _attach_formats: dict[str, tuple] = field(default_factory=dict)
    _jdbc: dict[str, dict] = field(default_factory=dict)
    _views: set = field(default_factory=set)
    _catalog_version: int = 0
    _registered_version: int = -1

    def __post_init__(self) -> None:
        if self.warehouse_dir:
            Path(self.warehouse_dir).mkdir(parents=True, exist_ok=True)
        # liveness probe, mirroring `select 1 as is_alive` (main.py:45-49)
        assert self.spark.sql("select 1 as is_alive").collect()[0].is_alive == 1

    # ------------------------------------------------------------------ #
    # catalog (S2-S6)
    # ------------------------------------------------------------------ #

    def attach(self, table_name: str, path: str, format: str = "parquet", **options) -> None:
        """Register an external dataset as a named (read-only) table.
        Parquet is the native format; csv/json/orc ride Spark's built-in
        sources (schema inference off by default in prod — pass
        ``schema=...`` via options)."""
        self._attached[table_name] = path
        if format == "parquet" and not options:
            # clear any stale format from a previous attach of this name
            self._attach_formats.pop(table_name, None)
        else:
            self._attach_formats[table_name] = (format, options)
        self._catalog_version += 1

    def create_view(self, view_name: str, sql: str) -> None:
        """Named view over engine SQL (listed by ``get_views`` — the
        reference only enumerates views, ``main.py:85-86``; creating them
        completes the surface)."""
        self.execute_raw(sql).createOrReplaceTempView(view_name)
        self._views.add(view_name)

    def attach_jdbc(
        self,
        table_name: str,
        url: str,
        dbtable: str | None = None,
        partition_column: str | None = None,
        num_partitions: int = 8,
        lower_bound: int | None = None,
        upper_bound: int | None = None,
        **options: str,
    ) -> None:
        """Register a JDBC-backed table (the reference's actual Postgres
        backend — ``create_engine(url)``, ``main.py:41-45``). Spark's JDBC
        source pushes projections/filters server-side; supply
        ``partition_column`` + bounds for partition-parallel reads (the
        JDBC analog of our REST id-partitioning). Requires the JDBC
        driver jar on the classpath; exercised live against embedded
        Derby (ships with Spark) in
        ``tests/test_engine.py::test_jdbc_roundtrip``."""
        opts = {"url": url, "dbtable": dbtable or table_name, **options}
        if partition_column:
            opts.update(
                partitionColumn=partition_column,
                numPartitions=str(num_partitions),
                lowerBound=str(lower_bound or 0),
                upperBound=str(upper_bound or 1_000_000),
            )
        self._jdbc[table_name] = opts
        self._catalog_version += 1

    def attach_dir(self, directory: str) -> list[str]:
        """Attach every ``<name>.parquet`` under a directory (the test
        fixture layout)."""
        names = []
        for p in sorted(Path(directory).glob("*.parquet")):
            self.attach(p.stem, str(p))
            names.append(p.stem)
        return names

    def _managed_path(self, table_name: str) -> Path | None:
        if not self.warehouse_dir:
            return None
        base = Path(self.warehouse_dir) / table_name
        return base if base.exists() else None

    def _vt(self, table_name: str):
        """The VersionedTable handle for a managed table (versioned mode)."""
        from .tables import VersionedTable

        self._require_warehouse()
        return VersionedTable(self.spark, str(Path(self.warehouse_dir) / table_name))

    def table_history(self, table_name: str) -> list[int]:
        """Committed versions of a managed table (versioned mode only)."""
        return self._vt(table_name).history()

    def get_table(self, table_name: str, version: int | None = None) -> DataFrame:
        """Reflection analog (``main.py:59-66``): resolve a name to a
        DataFrame — managed table, attached path, or temp view. In
        versioned mode ``version`` time-travels a managed table."""
        mp = self._managed_path(table_name)
        if mp is not None and (mp / "_log").exists():
            return self._vt(table_name).read(version)
        if version is not None:
            raise ValueError(f"table {table_name!r} is not versioned")
        if mp is not None:
            return read_parquet(self.spark, str(mp / "current"))
        if table_name in self._attached:
            if table_name in self._attach_formats:
                fmt, options = self._attach_formats[table_name]
                return (
                    self.spark.read.format(fmt)
                    .options(**options)
                    .load(self._attached[table_name])
                )
            return read_parquet(self.spark, self._attached[table_name])
        if table_name in self._jdbc:
            return self.spark.read.format("jdbc").options(**self._jdbc[table_name]).load()
        if self.spark.catalog.tableExists(table_name):
            return self.spark.table(table_name)
        raise KeyError(f"table {table_name!r} not found")

    def check_table_exists(self, table_name: str, schema: str | None = None) -> bool:
        """S3 (``main.py:68-70``)."""
        return (
            self._managed_path(table_name) is not None
            or table_name in self._attached
            or table_name in self._jdbc
            or self.spark.catalog.tableExists(table_name)
        )

    def get_table_columns(self, table_name: str) -> list[str]:
        """S4 (``main.py:72-73``)."""
        return self.get_table(table_name).columns

    def get_tables(self, schema: str | None = None) -> list[str]:
        """S5 (``main.py:82-83``)."""
        managed = (
            [p.name for p in Path(self.warehouse_dir).iterdir() if p.is_dir()]
            if self.warehouse_dir and Path(self.warehouse_dir).exists()
            else []
        )
        return sorted(set(managed) | set(self._attached) | set(self._jdbc))

    def get_views(self, schema: str | None = None) -> list[str]:
        """S6 (``main.py:85-86``) — views created through this engine
        (``execute_raw`` registers attached tables as temp views too, so
        filtering the raw catalog listing would conflate tables and
        views)."""
        return sorted(self._views)

    def get_table_count(self, table_name: str) -> int:
        """A1 (``main.py:75-80``)."""
        return self.get_table(table_name).count()

    # ------------------------------------------------------------------ #
    # read path (S1, P1, F1-F10, O1-O3) — Database.get (main.py:218-248)
    # ------------------------------------------------------------------ #

    def get(
        self,
        table_name: str,
        columns: Sequence[str] | None = None,
        where: Where = None,
        limit: int | None = None,
        offset: int | None = None,
        sort_by: str | None = None,
        ascending: bool = True,
        as_dicts: bool = False,
    ) -> DataFrame | list[dict]:
        """Declarative read. Builder-order quirk note: the reference applies
        ``.offset()`` before ``.order_by()`` textually (main.py:233-238) but
        SQL compiles to ORDER BY..LIMIT..OFFSET — our semantics are sort →
        offset → limit, identical results."""
        df = self.get_table(table_name)
        pred = compile_where(where)
        if pred is not None:
            df = df.filter(pred)
        if columns:
            df = df.select(*columns)
        if sort_by is not None:
            sort_cols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            df = df.orderBy(
                *[(F.col(c).asc() if ascending else F.col(c).desc()) for c in sort_cols]
            )
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        if as_dicts:
            # row-dict compat shell (reference returns list[dict],
            # main.py:243-244) — only at the API edge, never in a transform
            return [r.asDict(recursive=True) for r in df.collect()]
        return df

    def execute_raw(self, query: str, as_dicts: bool = False) -> DataFrame | list[dict]:
        """S7 raw passthrough (``main.py:287-293``) — Spark SQL dialect.
        Attached/managed tables are exposed as temp views first so the SQL
        can reference them by name. JDBC tables are NOT auto-registered
        (their schema resolution connects eagerly, which would fail every
        raw query when the driver jar/database is unavailable) — register
        one explicitly via ``get_table(name).createOrReplaceTempView``
        when needed. Registration is skipped when the catalog hasn't
        changed since the last call."""
        if self._catalog_version != self._registered_version:
            for name in self.get_tables():
                if name in self._jdbc:
                    continue
                self.get_table(name).createOrReplaceTempView(name)
            self._registered_version = self._catalog_version
        df = self.spark.sql(query)
        if as_dicts:
            return [r.asDict(recursive=True) for r in df.collect()]
        return df

    def table_size(
        self,
        table_name: str,
        date_field: str | None = None,
        date_window: int | None = None,
        **filters: Any,
    ) -> dict:
        """A2 — the ``Salesforce.sobject_size`` profile analog
        (``/root/reference/revtron/salesforce/main.py:185-228``): COUNT +
        MIN/MAX of a date field + column count, with optional relative
        lookback window (days back from now) and kwargs filters."""
        from .dsl import kwargs_filters

        df = self.get_table(table_name)
        if date_field and date_window is not None:
            df = df.filter(
                F.col(date_field)
                >= F.current_timestamp() - F.expr(f"INTERVAL {int(date_window)} DAYS")
            )
        pred = kwargs_filters(**filters)
        if pred is not None:
            df = df.filter(pred)
        aggs = [F.count(F.lit(1)).alias("n_records")]
        if date_field:
            aggs += [F.min(date_field).alias("min_date"), F.max(date_field).alias("max_date")]
        row = df.agg(*aggs).collect()[0].asDict()
        return {
            "table": table_name,
            "n_columns": len(self.get_table(table_name).columns),
            **row,
            "date_window": date_window,
        }

    # ------------------------------------------------------------------ #
    # DDL (create_table + additive schema evolution, main.py:119-189)
    # ------------------------------------------------------------------ #

    def create_table(
        self,
        table_name: str,
        columns: Sequence[ColumnModel | dict],
        primary_key: Sequence[str] | None = None,
        unique_columns: Sequence[str] | None = None,
        indexes: Sequence[str] | None = None,
    ) -> None:
        """Create a managed table; if it exists, diff declared vs existing
        columns and add the missing ones (additive evolution — the
        reference issues one ALTER per column, ``main.py:129-140``; we diff
        once and rewrite once).

        ``unique_columns`` / ``indexes`` mirror the reference signature
        (``main.py:118-127``: UniqueConstraint / Index per column). Spark
        enforces neither, so uniques are recorded and checked on demand
        (``validate_unique``) and indexes become a *layout hint*: managed
        writes sort within partitions on the indexed columns, which makes
        parquet row-group min/max stats selective — the scan-pruning
        analog of a B-tree index."""
        self._require_warehouse()
        cols = [c if isinstance(c, ColumnModel) else ColumnModel(**c) for c in columns]
        declared = T.StructType([c.to_field() for c in cols])
        pk = list(primary_key or [c.name for c in cols if c.primary_key])
        if pk:
            self.pk_registry[table_name] = pk
        for uc in unique_columns or []:
            entry = [uc] if isinstance(uc, str) else list(uc)
            if entry not in self.unique_registry.setdefault(table_name, []):
                self.unique_registry[table_name].append(entry)
        if indexes:
            merged_idx = self.index_registry.setdefault(table_name, [])
            merged_idx += [c for c in indexes if c not in merged_idx]
        for c in cols:
            if c.foreign_key:
                self.fk_registry.setdefault(table_name, {})[c.name] = c.foreign_key
        defaults = {c.name: c.default for c in cols if c.default is not None}
        if defaults:
            self.default_registry.setdefault(table_name, {}).update(defaults)

        if self.check_table_exists(table_name) and self._managed_path(table_name):
            existing = self.get_table(table_name)
            missing = [f for f in declared.fields if f.name not in existing.columns]
            if missing:
                for f in missing:
                    existing = existing.withColumn(f.name, F.lit(None).cast(f.dataType))
                self._write_managed(table_name, existing)
            return
        if table_name in self._attached or table_name in self._jdbc:
            # a managed table would resolve FIRST in get_table, so
            # creating one here would silently shadow the attached data
            # with an empty table — refuse instead
            raise ValueError(
                f"table {table_name!r} is attached (read-only external data); "
                "creating a managed table of the same name would shadow it"
            )
        empty = self.spark.createDataFrame([], declared)
        self._write_managed(table_name, empty)

    def add_column(self, table_name: str, column: ColumnModel | dict) -> None:
        """Single-column ALTER analog (``main.py:172-189``)."""
        self.create_table(table_name, [column])

    def validate_unique(self, table_name: str) -> dict[str, int]:
        """Check declared unique constraints (and the PK) distributively;
        returns ``{constraint: duplicate-key-count}`` for violated ones.
        The reference gets enforcement from Postgres; here it's an
        explicit audit — run it after bulk loads."""
        constraints: dict[str, list[str]] = {}
        if table_name in self.pk_registry:
            constraints["pk"] = self.pk_registry[table_name]
        for cols in self.unique_registry.get(table_name, []):
            constraints["unique:" + ",".join(cols)] = cols
        out: dict[str, int] = {}
        if not constraints:
            return out
        df = self.get_table(table_name)
        for name, cols in constraints.items():
            dups = (
                df.groupBy(*cols).count().filter(F.col("count") > 1).count()
            )
            if dups:
                out[name] = dups
        return out

    def validate_foreign_keys(self, table_name: str) -> dict[str, int]:
        """Referential-integrity audit over the FKs declared via
        ``ColumnModel.foreign_key`` ("parent_table.parent_column", the
        SQLAlchemy ForeignKey string form — ``main.py:28-37``). Returns
        ``{column: orphan-row-count}`` for violated references."""
        from .operators.quality import fk_violations

        out: dict[str, int] = {}
        child = self.get_table(table_name)
        for col, ref in self.fk_registry.get(table_name, {}).items():
            parent_table, _, parent_col = ref.rpartition(".")
            n = fk_violations(child, col, self.get_table(parent_table), parent_col)
            if n:
                out[col] = n
        return out

    def save_table(
        self, table_name: str, df: DataFrame, primary_key: Sequence[str] | None = None
    ) -> None:
        """Materialize a DataFrame as a managed table (used to seed the
        mutation suite from fixtures)."""
        self._require_warehouse()
        if primary_key:
            self.pk_registry[table_name] = list(primary_key)
        self._write_managed(table_name, df)

    # ------------------------------------------------------------------ #
    # mutation suite (J1-J3)
    # ------------------------------------------------------------------ #

    def upsert(
        self,
        table_name: str,
        data: DataFrame | dict | list[dict],
        chunk_size: int = 1_000,  # accepted for API parity; Spark partitions replace chunking
        overwrite_with_null: bool = False,
        return_keys: bool = True,
    ) -> list[dict] | None:
        """J1 keyed merge (``main.py:88-117``). Match key = registered PK
        (error when none — main.py:97-99); incoming NULL preserves the
        existing value unless ``overwrite_with_null``. Returns the affected
        keys (RETURNING analog): every distinct source key, in no
        particular order, computed by the write itself."""
        pk = self.pk_registry.get(table_name)
        if not pk:
            raise MergeKeyError(
                f"table {table_name!r} has no registered primary key; upsert requires one"
            )
        source = self._as_df(data, like=self.get_table(table_name))
        obs = Observation() if return_keys else None
        mp = self._managed_path(table_name)
        if (
            self.versioned
            and mp is not None
            and (mp / "_log").exists()
            and not self.default_registry.get(table_name)
        ):
            # transactional, file-pruned merge: one manifest commit
            self._vt(table_name).merge(
                source, pk, overwrite_with_null=overwrite_with_null, observation=obs
            )
            self._catalog_version += 1
        else:
            target = self.get_table(table_name)
            merged = upsert_merge(
                target,
                source,
                pk,
                overwrite_with_null=overwrite_with_null,
                insert_defaults=self.default_registry.get(table_name),
                returning=return_keys,
            )
            if obs is not None:
                merged = observe_hits(merged, obs, pk)
            self._write_managed(table_name, merged)
        if obs is None:
            return None
        return [r.asDict() for r in obs.get["keys"]]

    def update(
        self,
        table_name: str,
        data: DataFrame | dict | list[dict],
        on: str | Sequence[str],
    ) -> int:
        """J2 keyed bulk update (``main.py:250-269``); returns matched-row
        count (the rowcount analog), computed by the write itself. SQL
        UPDATE semantics: a NULL ``on`` key matches no row."""
        target = self.get_table(table_name)
        source = self._as_df(data, like=target)
        obs = Observation()
        updated = keyed_update(target, source, on, returning=True)
        self._write_managed(table_name, observe_hits(updated, obs))
        return obs.get["n"]

    def delete(self, table_name: str, where: Where = None) -> int:
        """J3 delete-where (``main.py:271-285``); returns deleted-row
        count: the rows read minus the rows the write kept."""
        target = self.get_table(table_name)
        before = self._row_count(table_name, target)
        obs = Observation()
        remaining = delete_where(target, compile_where(where))
        self._write_managed(table_name, observe_hits(remaining, obs))
        return before - obs.get["n"]

    # ------------------------------------------------------------------ #
    # internals
    # ------------------------------------------------------------------ #

    def _require_warehouse(self) -> None:
        if not self.warehouse_dir:
            raise ValueError("Engine has no warehouse_dir; managed tables unavailable")

    def _row_count(self, table_name: str, df: DataFrame) -> int:
        """Rows of ``df``, read from the parquet footers of its files when
        it is a managed table (no Spark job); other tables are counted
        by Spark."""
        if self._managed_path(table_name) is None:
            return df.count()
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(unquote(urlparse(f).path)).metadata.num_rows
            for f in df.inputFiles()
        )

    def _as_df(self, data: DataFrame | dict | list[dict], like: DataFrame) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        records = [data] if isinstance(data, dict) else list(data)
        if not records:
            raise ValueError("empty record list — nothing to write")
        # project the target schema onto the provided keys so types line up
        fields = {f.name: f for f in like.schema.fields}
        keys = list(records[0].keys())
        schema = T.StructType(
            [fields.get(k, T.StructField(k, T.StringType(), True)) for k in keys]
        )
        # build tuples in SCHEMA order — Row(**r) orders values by the
        # record's own key order, silently swapping columns when a later
        # record lists keys differently than records[0]
        rows = [tuple(r.get(k) for k in keys) for r in records]
        return self.spark.createDataFrame(rows, schema=schema)

    def _write_managed(self, table_name: str, df: DataFrame) -> None:
        """Publish the new table image: a manifest commit in versioned
        mode, else ``io.replace_parquet`` onto ``current``. Not a real
        transaction log (that's Delta/Iceberg territory) but safe against
        partial writes and read-while-write on local FS."""
        self._require_warehouse()
        base = Path(self.warehouse_dir) / table_name
        # index hint: cluster rows on the indexed columns so parquet
        # row-group min/max stats prune point/range scans (see
        # create_table); sortWithinPartitions is shuffle-free
        idx = [c for c in self.index_registry.get(table_name, []) if c in df.columns]
        if idx:
            df = df.sortWithinPartitions(*idx)
        if self.versioned:
            from .tables import VersionedTable

            vt = self._vt(table_name)
            if vt.history():
                vt.overwrite(df)
            else:
                VersionedTable.create(self.spark, str(base), df)
        else:
            replace_parquet(df, base / "current")
        # any temp views registered over the old image are stale now
        self._catalog_version += 1

    def vacuum_table(self, table_name: str, keep_last: int = 2) -> list[str]:
        """Retention GC for a versioned managed table: drop manifests
        older than the ``keep_last`` most recent and delete data files
        only they referenced."""
        return self._vt(table_name).vacuum(keep_last=keep_last)
