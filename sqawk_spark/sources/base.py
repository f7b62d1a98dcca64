"""Table builder: records DataFrame → reference-shaped temp view.

Reproduces the reference's table layout (lib/classes/table.tcl:59-78):
``anr`` (1-based record number, insertion order), ``anf`` (field count
of the record), ``a0`` (whole raw record, droppable with F0=0), and
``a1..aNF`` field columns with affinity-canonicalized values — names
taken from the prefix, a header record, or ``columns=``.

Scale notes: a loaded table costs one stats aggregation (one row per
partition, two Spark jobs under AQE) and one ``selectExpr`` batch of
SQL text. The aggregation yields the partition-offset numbering of
``anr`` (JVM-side — no ``rdd.zipWithIndex`` Python round-trip), the
header record, the max width that MNF ``expand`` (SQLite ALTER TABLE
mid-load) grows the table to, and the per-column integer-promotion
flags. The offsets enter the shaped plan as one array literal, so
queries over the table carry no join. The column expressions are SQL
text built in Python (``affinity.affinity_sql``): a constant number of
py4j calls per column instead of one per expression node. Appending
several files to one table numbers continuously across files
(tests.tcl:213-223) by unioning record streams *before* numbering.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sqawk_spark import jvm
from sqawk_spark.affinity import (
    INT_RE,
    affinity_sql,
    apply_affinity,  # noqa: F401  (perfbench's tracer counts it here)
    column_class_for,
    normalize_affinity,
    sql_str,
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("a0", T.StringType()),
        T.StructField("fields", T.ArrayType(T.StringType())),
    ]
)


@dataclass
class FileSpec:
    """One input file + its per-file options (reference README.md
    'Per-file options', sqawk-dev.tcl:120-136)."""

    filename: str  # "-" = stdin
    format: str = "awk"
    table: str | None = None
    prefix: str | None = None
    header: bool = False
    columns: list[str] | None = None
    f0: bool = True
    nf: int = 10
    mnf: str = "expand"  # crop | expand | error
    datatypes: list[str] = field(default_factory=list)
    options: dict[str, str] = field(default_factory=dict)  # parser-specific


def _tagged(df: DataFrame) -> DataFrame:
    """``df`` with each row's partition id and
    ``monotonically_increasing_id``: ``__mid`` is ``(__pid << 33) +
    row index within the partition``, so a partition's first row is the
    one where ``__mid == __pid << 33``."""
    return df.withColumns(
        {
            "__pid": F.spark_partition_id(),
            "__mid": F.monotonically_increasing_id(),
        }
    )


def _anr_sql(parts: list[tuple[int, int, int]], offset: int) -> str:
    """``anr`` as one SQL expression over ``__pid``/``__mid``.

    ``parts`` are (partition id, min ``__mid``, row count) triples of
    the rows to number; a partition may appear twice (its first row and
    the rest). Cumulative counts in partition order give each partition
    a base, ``anr = base[__pid] + __mid``, chosen so the partition's
    first numbered row gets the next number. The bases are one array
    literal, so the numbered plan has no join."""
    bases: dict[int, int] = {}
    acc = offset
    for pid, lo, n in sorted(parts):
        bases.setdefault(pid, acc + 1 - lo)
        acc += n
    arr = ", ".join(
        f"{bases.get(p, 0)}L" for p in range(max(bases, default=0) + 1)
    )
    return f"element_at(array({arr}), __pid + 1) + __mid"


def with_record_numbers(df: DataFrame, offset: int = 0) -> DataFrame:
    """Attach a 1-based, insertion-ordered ``anr`` column, JVM-side.

    Partition-offset numbering, the distributed equivalent of
    ``rdd.zipWithIndex`` without its per-row Python round-trip:

    1. tag rows with ``spark_partition_id()`` and
       ``monotonically_increasing_id()`` (monotone and *consecutive*
       within a partition — the per-partition counter increments by 1);
    2. one tiny aggregation collects per-partition (count, min id) —
       one row per partition, regardless of data size;
    3. cumulative counts in partition order give each partition a base
       offset, and ``base[pid] + mid`` numbers rows exactly as
       zipWithIndex would (partition order, then within-partition
       order). The bases enter the plan as one array literal
       (:func:`_anr_sql`): the corpus never shuffles, never leaves the
       JVM, and the numbered plan carries no join.

    Determinism: the stats job and every later job re-scan the same
    source plan; file-split partitioning and within-partition row order
    are stable, so the (pid, mid) pairs seen by later jobs match the
    stats job.

    CONSTRAINT: the input plan must partition DETERMINISTICALLY across
    jobs. File scans and hash-partitioned exchanges qualify;
    ``repartitionByRange`` does NOT (RangePartitioner samples its
    boundaries with an RDD-id-seeded RNG, so boundary rows can swap
    partitions between the stats job and the output job, producing
    duplicate/skipped numbers). Callers with a range-shuffled input
    must ``localCheckpoint(eager=True)`` it first, or use a numbering
    keyed on a pure function of the row (see
    ``operators.sampling.deterministic_shuffle``).
    """
    tagged = _tagged(df)
    stats = tagged.groupBy("__pid").agg(
        F.expr("min(__mid)"), F.expr("count(1)")
    )
    anr = _anr_sql([tuple(r) for r in stats.collect()], offset)
    return tagged.select(F.expr(anr).alias("anr"), *df.columns)


class TableLoader:
    """Accumulates per-file record streams into named tables, then
    shapes + registers them (the analog of the reference's table
    objects plus read-file, lib/classes/sqawk.tcl:137-203)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._streams: dict[str, list[tuple[DataFrame, FileSpec]]] = {}
        self._order: list[str] = []
        self.tables: dict[str, DataFrame] = {}
        self.specs: dict[str, FileSpec] = {}
        # storage class per loaded column (affinity.column_class_for)
        self.classes: dict[str, str] = {}

    def add(self, records: DataFrame, spec: FileSpec, table: str) -> None:
        self._streams.setdefault(table, [])
        if table not in self._order:
            self._order.append(table)
        self._streams[table].append((records, spec))

    def finalize(self) -> dict[str, DataFrame]:
        for table in self._order:
            parts = self._streams[table]
            # first file's spec decides naming/shape options
            # (CREATE TABLE IF NOT EXISTS semantics: later appends
            # reuse the existing schema, lib/classes/table.tcl:69)
            spec = parts[0][1]
            records = parts[0][0]
            for df, _ in parts[1:]:
                records = records.unionAll(df)
            if spec.format in ("parquet", "orc"):
                from sqawk_spark.sources.parquet import shape_typed_table

                shaped = shape_typed_table(records, spec, table)
            else:
                shaped = build_table(
                    self.spark, records, spec, table, self.classes
                )
            shaped.createOrReplaceTempView(table)
            self.tables[table] = shaped
            self.specs[table] = spec
        return self.tables


def _resolve_names(
    header_fields: list[str] | None,
    spec: FileSpec,
    prefix: str,
    nf: int,
) -> list[str]:
    """Resolve field column names.

    Header semantics: first record's fields become names (field 0 /
    the raw record is dropped), reference lib/classes/sqawk.tcl:176-181;
    ``columns=`` entries override positionally, empty entries fall
    through (lib/classes/sqawk.tcl:183-190); unnamed tail keeps
    auto names (prefix + index). Grave accents are forbidden in names
    (lib/classes/table.tcl:22-28).
    """
    names: list[str | None] = [None] * nf
    if header_fields:
        for i, h in enumerate(header_fields[:nf]):
            names[i] = h
    if spec.columns:
        for i, c in enumerate(spec.columns[:nf]):
            if c:
                names[i] = c
    resolved = []
    seen = set()
    for i in range(nf):
        name = names[i] if names[i] else f"{prefix}{i + 1}"
        if "`" in name:
            raise ValueError(
                f"column name {name!r} may not contain grave accents"
            )
        # SQLite errors on duplicate column names at CREATE TABLE
        if name.lower() in seen:
            raise ValueError(f"duplicate column name: {name}")
        seen.add(name.lower())
        resolved.append(name)
    return resolved


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _int_flag(i: int) -> str:
    """Aggregate: every value of field ``i`` (0-based) is integer-looking
    or NULL."""
    return (
        f"bool_and(coalesce(try_element_at(fields, {i + 1}) RLIKE "
        f"{sql_str(INT_RE)}, true))"
    )


def build_table(
    spark: SparkSession,
    records: DataFrame,
    spec: FileSpec,
    table: str,
    classes: dict[str, str],
) -> DataFrame:
    """Shape a records stream into the reference table layout, and
    record each column's storage class in ``classes`` (keyed by
    lowercase name).

    Everything the shape depends on comes from one stats aggregation,
    grouped by partition and by "first row of its partition": row
    counts and min ids (the numbering), the first rows' fields (the
    header), the max width, and per-column integer flags. The header is
    the first row of the first non-empty partition, so dropping it means
    dropping that one group before the rest are combined."""
    prefix = spec.prefix or table
    if spec.mnf not in ("crop", "expand", "error"):
        raise ValueError(f"invalid MNF value: {spec.mnf}")
    datatypes = list(spec.datatypes)

    def decl(i: int) -> str:
        return datatypes[i] if i < len(datatypes) else "integer"

    # Column type promotion: SQLite stores each VALUE typed, so an
    # INTEGER-affinity column whose values are all integers sorts and
    # compares numerically. Spark columns are homogeneous — promote a
    # column to LongType only when every value is integer-looking (or
    # NULL); mixed columns stay canonicalized strings (numeric
    # comparisons still work via legacy coercion; ordering of text
    # values in mixed columns is the one documented divergence).
    def promotable(lo: int, hi: int) -> list[int]:
        return [
            i
            for i in range(lo, hi)
            if normalize_affinity(decl(i)) in ("integer", "numeric")
        ]

    # MNF expand learns its width from this same job, so it probes the
    # declared columns; wider records cost one more aggregation below
    probe_to = spec.nf
    if spec.mnf == "expand":
        probe_to = max(spec.nf, len(datatypes))
    probed = promotable(0, probe_to)

    tagged = _tagged(records)
    aggs = [
        "min(__mid) AS lo",
        "count(1) AS n",
        "max(size(fields)) AS w",
        f"array({', '.join(_int_flag(i) for i in probed)}) AS ints",
    ]
    if spec.header:
        aggs.append("min_by(fields, __mid) AS head")
    first = F.expr("__mid = shiftleft(CAST(__pid AS BIGINT), 33)")
    stats = (
        tagged.groupBy(F.col("__pid"), first.alias("__first"))
        .agg(*[F.expr(a) for a in aggs])
        .collect()
    )

    # header is consumed before any width/NF accounting, like the
    # reference's pre-insert `$parser next` (lib/classes/sqawk.tcl:176)
    header_fields: list[str] | None = None
    body = tagged
    if spec.header:
        header = min(
            (r for r in stats if r["__first"]),
            key=lambda r: r["__pid"],
            default=None,
        )
        header_fields = list(header.head) if header else []
        if header:
            stats = [r for r in stats if r is not header]
            body = tagged.filter(f"__mid <> {header.lo}")

    nf = spec.nf
    width = max((r.w for r in stats), default=0)
    if spec.mnf == "expand":
        # SQLite grows the table with ALTER TABLE mid-load
        # (lib/classes/table.tcl:125-131); immutable Spark schemas →
        # the max width from the stats instead. Same result.
        nf = max(nf, width)
    elif spec.mnf == "error" and width > nf:
        # message parity with lib/classes/table.tcl MNF=error
        # (reference test nf-4.1)
        raise ValueError(
            f"table {table} has no column named {prefix}{nf + 1}"
        )

    names = _resolve_names(header_fields, spec, prefix, nf)

    # a flag over no rows is False, as an all-NULL min() was before
    int_flags = [False] * nf
    for j, i in enumerate(probed):
        if i < nf:
            int_flags[i] = bool(stats) and all(r.ints[j] for r in stats)
    if promotable(probe_to, nf):
        # fields past the probed ones: one aggregation over the values
        # present, grouped by position (measured faster than one flag
        # column per position, which tests every row's missing fields)
        extra = dict(
            body.selectExpr("posexplode(fields) AS (__pos, __v)")
            .where(f"__pos >= {probe_to}")
            .groupBy("__pos")
            .agg(F.expr(f"bool_and(__v RLIKE {sql_str(INT_RE)})"))
            .collect()
        )
        for i in promotable(probe_to, nf):
            int_flags[i] = bool(extra.get(i))

    # crop truncates the record's field list (lib/classes/table.tcl:102-105)
    fields = f"slice(fields, 1, {nf})" if spec.mnf == "crop" else "fields"
    anr = _anr_sql([(r["__pid"], r.lo, r.n) for r in stats], 0)
    cols = [
        f"{anr} AS {_ident(prefix + 'nr')}",
        f"size({fields}) AS {_ident(prefix + 'nf')}",
    ]
    # record storage treatments so the dialect can reproduce SQLite's
    # cross-class comparison order (affinity.py storage classes)
    classes[f"{prefix}nr".lower()] = "long"
    classes[f"{prefix}nf".lower()] = "long"
    if spec.f0:
        cols.append(f"a0 AS {_ident(prefix + '0')}")
        # the reference declares the raw-record column TEXT
        # (lib/classes/table.tcl: `a0 TEXT`)
        classes[f"{prefix}0".lower()] = "text"
    for i in range(nf):
        # NULL beyond anf; try_ variant stays NULL under ANSI mode too
        raw = f"try_element_at(fields, {i + 1})"
        if int_flags[i]:
            value = f"TRY_CAST({raw} AS BIGINT)"
        else:
            value = affinity_sql(raw, decl(i))
        cols.append(f"{value} AS {_ident(names[i])}")
        classes[names[i].lower()] = column_class_for(decl(i), int_flags[i])
    jvm.register(spark)  # affinity_sql prints REAL values with py_real_repr
    return body.selectExpr(*cols)
