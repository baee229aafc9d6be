"""Run manifests and the idempotency gate's range skip.

Every verified publish records a manifest (``sink.mark_publishing``):
the run's predicate, rows, fingerprint, written schema, files (path
relative to the target and size) and the exact ``[min, max]`` of each
integral, ``decimal(p,0)``, date and timestamp column over every row it
published (``null`` for an all-NULL column). An archive run and a
compaction (``maintenance.compact_files``, whose manifest replaces
those of the runs it rewrote) record one the same way. Dates are
recorded as days and timestamps as microseconds since the epoch, both
computed in the JVM (``unix_date`` / ``unix_micros``), so no Python
time zone enters.

The gate (A32, cmd/main.go:74-82) then scans only the candidate files
(:func:`gate_scan`): files no manifest covers with the same path and
size, and files of runs whose ranges can meet the predicate P. It is
the same per-file statistics skip as Delta Lake's log (Armbrust et al.,
VLDB 2020), kept per run and without ``delta-spark``.

Soundness: a run is skipped only when P is a conjunction (``AND``, any
case) of ``column op literal`` with ``op`` one of ``= < <= > >=``, each
conjunct fits the run's schema, and one conjunct's interval misses the
run's range. An integral column takes a plain integer literal; a date
or timestamp column a quoted ``'YYYY-MM-DD[ HH:MM:SS[.ffffff]]'``
literal (the form of a rolling-window ``sourceWhereCondition``,
``key >= 'lo' and key < 'hi'``), cast as Spark casts it in the
comparison: to a date by its date part, to a timestamp in
``spark.sql.session.timeZone``. Any other shape (``OR``, ``NOT``,
``BETWEEN``, functions, casts, column-to-column comparisons, suffixed or
float literals, string, float or other columns) scans every file of the
run, as does a run without exact ranges over all its rows (a manifest
with ``"ranges": null``, as older versions wrote for runs with the gate
off, or a run published before manifests).

Limits: every run reads every manifest, O(runs) small reads on the
driver, and lists the target's files; a compacted index of the
manifests is the follow-up. An outside writer leaves files that no
manifest covers, and the gate scans those.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass
from datetime import date, datetime

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StructType,
    TimestampType,
)

from .sink import listed_files, read_manifests

__all__ = ["GateScan", "conjuncts", "gate_scan", "range_aggregates"]

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)


def _kind(dtype) -> str | None:
    """How a column's range is recorded: ``int``, ``date`` (days) or
    ``ts`` (microseconds); ``None`` for a column without one."""
    if isinstance(dtype, _INTEGRAL) or (
        isinstance(dtype, DecimalType) and dtype.scale == 0
    ):
        return "int"
    if isinstance(dtype, DateType):
        return "date"
    if isinstance(dtype, TimestampType):  # not TIMESTAMP_NTZ
        return "ts"
    return None


def range_aggregates(schema: StructType) -> tuple[list[str], list[Column]]:
    """The ranged columns of ``schema`` and, for each, its min and max
    aggregates in recorded form (two per column, in order)."""
    encode = {"int": "{}({})", "date": "unix_date({}({}))", "ts": "unix_micros({}({}))"}
    names, aggs = [], []
    for field in schema.fields:
        kind = _kind(field.dataType)
        if kind is None:
            continue
        col = "`" + field.name.replace("`", "``") + "`"
        names.append(field.name)
        aggs += [F.expr(encode[kind].format(fn, col)) for fn in ("min", "max")]
    return names, aggs


def ranges_from(names: list[str], values: list) -> dict:
    """``{column: [min, max] or None}`` from :func:`range_aggregates`'
    values."""
    return {
        name: None if lo is None else [int(lo), int(hi)]
        for name, lo, hi in zip(names, values[::2], values[1::2])
    }


_TOKEN = re.compile(
    r"\s*(?:(?P<ident>`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<int>-?[0-9]{1,38})(?![A-Za-z0-9_.])"
    r"|(?P<str>'[^'\\]*')"
    r"|(?P<op><=|>=|=|<|>))"
)
_DATETIME = re.compile(
    r"([0-9]{4})-([0-9]{2})-([0-9]{2})"
    r"(?: ([0-9]{2}):([0-9]{2}):([0-9]{2})(?:\.([0-9]{1,6}))?)?"
)
# unquoted names Spark reads as literals, not columns
_LITERAL_WORDS = {"TRUE", "FALSE", "NULL"}


def conjuncts(predicate: str | None) -> list[tuple[str, str, tuple]] | None:
    """``predicate`` as ``(column, op, (kind, literal))`` conjuncts, with
    kind ``int`` or ``str``; ``[]`` for no predicate, ``None`` for any
    shape outside the grammar."""
    text = (predicate or "").rstrip()
    tokens, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            return None
        tokens.append((m.lastgroup, m.group(m.lastgroup)))
        pos = m.end()
    out = []
    while tokens:
        if len(tokens) < 3:
            return None
        (k1, col), (k2, op), (k3, lit) = tokens[:3]
        if k1 != "ident" or k2 != "op" or k3 not in ("int", "str"):
            return None
        if col.startswith("`"):
            col = col[1:-1]
        elif col.upper() in _LITERAL_WORDS:
            return None
        out.append((col, op, (k3, int(lit) if k3 == "int" else lit[1:-1])))
        tokens = tokens[3:]
        if tokens:
            if tokens[0][0] != "ident" or tokens[0][1].upper() != "AND":
                return None
            tokens = tokens[1:]
            if not tokens:
                return None
    return out


class _Literals:
    """A conjunct's literal as an integer in a column kind's recorded
    form, as Spark casts it in the comparison; ``None`` when the pair is
    outside the grammar."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.case_sensitive = (
            spark.conf.get("spark.sql.caseSensitive", "false").lower() == "true"
        )
        # datetime-vs-string comparisons made as strings: no intervals
        self.datetimes = spark.conf.get(
            "spark.sql.legacy.typeCoercion.datetimeToString.enabled", "false"
        ).lower() != "true"
        self._zone = None

    def field(self, schema: StructType, name: str):
        """The field ``name`` resolves to in ``schema``, or ``None``."""
        same = (
            (lambda f: f.name == name)
            if self.case_sensitive
            else (lambda f: f.name.lower() == name.lower())
        )
        found = [f for f in schema.fields if same(f)]
        return found[0] if len(found) == 1 else None

    def value(self, kind: str, literal: tuple) -> int | None:
        lit_kind, lit = literal
        if kind == "int":
            return lit if lit_kind == "int" else None
        if lit_kind != "str" or not self.datetimes:
            return None
        m = _DATETIME.fullmatch(lit)
        if m is None:
            return None
        y, mo, d, h, mi, s, frac = m.groups()
        try:
            dt = datetime(
                int(y), int(mo), int(d), int(h or 0), int(mi or 0),
                int(s or 0), int((frac or "0").ljust(6, "0")),
            )
        except ValueError:
            return None
        if kind == "date":  # the cast keeps the date part
            return (dt.date() - date(1970, 1, 1)).days
        return self._micros(dt)

    def _micros(self, dt: datetime) -> int | None:
        """``dt`` read in the session time zone, as Spark's string to
        timestamp cast reads it, in epoch microseconds."""
        jvm = self.spark._jvm  # noqa: SLF001
        if self._zone is None:
            self._zone = jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
                self.spark.conf.get("spark.sql.session.timeZone")
            )
        zoned = jvm.java.time.ZonedDateTime.of(
            dt.year, dt.month, dt.day, dt.hour, dt.minute, dt.second,
            dt.microsecond * 1000, self._zone,
        )
        return zoned.toEpochSecond() * 1_000_000 + zoned.getNano() // 1000


_BOUNDS = {
    "=": lambda v: (v, v),
    "<": lambda v: (None, v - 1),
    "<=": lambda v: (None, v),
    ">": lambda v: (v + 1, None),
    ">=": lambda v: (v, None),
}


def _may_match(manifest: dict, parsed, literals: _Literals) -> bool:
    """Whether a run's rows may satisfy the parsed predicate: ``False``
    only when every conjunct fits the run's schema and one conjunct's
    interval misses the run's recorded range."""
    ranges = manifest.get("ranges")
    if parsed is None or not isinstance(ranges, dict) or "schema" not in manifest:
        return True
    schema = StructType.fromJson(manifest["schema"])
    intervals = []
    for col, op, literal in parsed:
        field = literals.field(schema, col)
        kind = None if field is None else _kind(field.dataType)
        value = None if kind is None else literals.value(kind, literal)
        if value is None or field.name not in ranges:
            return True
        intervals.append((ranges[field.name], *_BOUNDS[op](value)))
    for rng, lo, hi in intervals:
        if rng is None:  # all NULL: no comparison holds
            return False
        if (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo):
            return False
    return True


@dataclass
class GateScan:
    """What the gate reads: ``paths`` are the candidate files (``None``:
    the whole target, ``[]``: nothing, as when no file is listed), read
    with ``schema`` when every candidate's manifest records the same one
    (``None``: infer)."""

    paths: list[str] | None
    schema: StructType | None
    stats: dict


def gate_scan(spark: SparkSession, target: str, predicate: str | None) -> GateScan:
    """The files the gate must read to count ``target``'s rows that
    match ``predicate``. ``stats`` has the manifests read, the target
    files listed, the files scanned and the runs skipped."""
    manifests = read_manifests(spark, target)
    listed = listed_files(spark, target)
    parsed = conjuncts(predicate)
    literals = _Literals(spark)
    owner: dict[tuple[str, int], dict | None] = {}
    for m in manifests:
        for f in m["files"]:
            key = (f.get("path"), f.get("size"))
            # a file two manifests claim is covered by neither
            owner[key] = None if key in owner else m
    may_match: dict[int, bool] = {}
    candidates, skipped, schemas = [], set(), set()
    covered = True
    for rel, size in listed.items():
        m = owner.get((rel, size))
        if m is not None:
            if id(m) not in may_match:
                may_match[id(m)] = _may_match(m, parsed, literals)
            if not may_match[id(m)]:
                skipped.add(id(m))
                continue
            schemas.add(json.dumps(m.get("schema"), sort_keys=True))
        else:
            covered = False
        candidates.append(rel)
    schema = None
    if covered and len(schemas) == 1:
        recorded = json.loads(schemas.pop())
        schema = StructType.fromJson(recorded) if recorded else None
    stats = {
        "manifests": len(manifests),
        "files": len(listed),
        "scanned": len(candidates),
        "runs_skipped": len(skipped),
    }
    if listed and len(candidates) == len(listed):  # every file: a full scan
        return GateScan(None, schema, stats)
    root = target.rstrip("/")
    return GateScan([f"{root}/{rel}" for rel in candidates], schema, stats)
