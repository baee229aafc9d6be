"""Typed job configuration — parity with the reference JSON config.

Capability parity: ``config/config.go:36-160`` in the reference defines
one JSON struct that is the engine's entire user-facing surface, plus
validation rules. This module keeps the same JSON field names and
validation semantics so existing configs load unchanged, but validation
raises ``ConfigError`` instead of panicking.

Semantic upgrade (documented, intentional): the reference forbids
``maxThread > 1`` with a time split key because its LIMIT/OFFSET paging
is unsafe under concurrency (``worker/worker.go:139-143``). Spark
partitioned reads have no OFFSET hazard — each time window becomes one
independent partition predicate, and the scheduler sizes the
parallelism — so this engine reads no thread count: ``maxThread``,
like ``sourceQuery`` and ``databendDSN``, loads as an unknown key and
is ignored.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import timedelta

__all__ = ["Config", "ConfigError", "load_config", "TIME_SPLIT_STRIDES"]


class ConfigError(ValueError):
    """Invalid job configuration."""


# Reference: config/config.go:147-160 — unit -> window stride.
# 'minute' deliberately maps to 10 minutes and 'hour' to 2 hours in the
# reference; preserved exactly.
TIME_SPLIT_STRIDES: dict[str, timedelta] = {
    "minute": timedelta(minutes=10),
    "quarter": timedelta(minutes=15),
    "hour": timedelta(hours=2),
    "day": timedelta(hours=24),
}

# Reference: config/config.go:126-137 — the where-condition shape
# required for time-split jobs: "<col> >|>= '<lo>' and <col> <|<= '<hi>'".
_TIME_CONDITION_RE = re.compile(
    r"^\w+\s*(>|>=)\s*'[^']*'\s+and\s+\w+\s*(<|<=)\s*'[^']*'$"
)


@dataclass
class Config:
    # Source connection (reference: config/config.go:38-51)
    database_type: str = "mysql"  # mysql | tidb | pg | mssql | oracle
    source_host: str = ""
    source_port: int = 0
    source_user: str = ""
    source_pass: str = ""
    source_db: str = ""
    ssl_mode: str = ""
    source_table: str = ""
    # multi-table selectors, format "dbRegex@tableRegex" ('@' separator
    # because '.' is regex-special; reference source/mysql.go:388)
    source_db_tables: list[str] = field(default_factory=list)
    source_where_condition: str = ""
    source_split_key: str = ""
    source_split_time_key: str = ""
    time_split_unit: str = "hour"

    # Target (reference: config/config.go:53-64)
    databend_table: str = ""
    batch_size: int = 1000
    batch_max_interval: int = 3  # seconds; rate limit between delete batches
    copy_purge: bool = True
    copy_force: bool = False
    disable_variant_check: bool = True
    user_stage: str = "~"
    delete_after_sync: bool = False
    oracle_sid: str = ""

    # Engine-local extensions (not in the reference config)
    target_path: str = ""  # file/Delta sink location (alt. to databend_table)
    target_format: str = "parquet"  # parquet | orc | ndjson
    # hive-style layout columns for the sink (e.g. a date column): at
    # scale this is what makes later reads partition-prunable
    target_partition_by: list[str] = field(default_factory=list)
    # checksum upgrade: also compare order-insensitive content
    # fingerprints source-vs-target (verify.content_fingerprint) —
    # catches value corruption counts can't. The target's fingerprint
    # comes from the scan that counts it; the source side pays one
    # extra scan for every source (a re-read over JDBC, an unshuffled
    # scan of the filtered files), so opt-in
    verify_fingerprint: bool = False
    # degrade output to the reference's wire shape (bool->tinyint,
    # temporal->string, decimal->double) for file and JDBC sources
    # alike; the source fingerprint hashes the degraded rows, as the
    # target stores them. See sources/typemap.py
    reference_compat: bool = False
    # execute the generated COPY INTO against a live warehouse over
    # JDBC after the stage write (reference
    # ingester/ingest_databend.go:182-195). Requires databend_table and
    # a JDBC URL for the warehouse; meaningful with target_format
    # 'ndjson' (the stage-file format the statement declares)
    execute_copy_into: bool = False
    warehouse_jdbc_url: str = ""
    warehouse_user: str = ""
    warehouse_pass: str = ""

    # --- JSON field-name compatibility -------------------------------
    _JSON_KEYS = {
        "databaseType": "database_type",
        "sourceHost": "source_host",
        "sourcePort": "source_port",
        "sourceUser": "source_user",
        "sourcePass": "source_pass",
        "sourceDB": "source_db",
        "sslMode": "ssl_mode",
        "sourceTable": "source_table",
        "sourceDbTables": "source_db_tables",
        "sourceWhereCondition": "source_where_condition",
        "sourceSplitKey": "source_split_key",
        "SourceSplitTimeKey": "source_split_time_key",
        "sourceSplitTimeKey": "source_split_time_key",
        "TimeSplitUnit": "time_split_unit",
        "timeSplitUnit": "time_split_unit",
        "databendTable": "databend_table",
        "batchSize": "batch_size",
        "batchMaxInterval": "batch_max_interval",
        "copyPurge": "copy_purge",
        "copyForce": "copy_force",
        "disableVariantCheck": "disable_variant_check",
        "userStage": "user_stage",
        "deleteAfterSync": "delete_after_sync",
        "verifyFingerprint": "verify_fingerprint",
        "oracleSID": "oracle_sid",
        "targetPath": "target_path",
        "targetFormat": "target_format",
        "targetPartitionBy": "target_partition_by",
        "referenceCompat": "reference_compat",
        "executeCopyInto": "execute_copy_into",
        "warehouseJdbcUrl": "warehouse_jdbc_url",
        "warehouseUser": "warehouse_user",
        "warehousePass": "warehouse_pass",
    }

    @classmethod
    def from_dict(cls, raw: dict) -> "Config":
        kwargs = {}
        for k, v in raw.items():
            attr = cls._JSON_KEYS.get(k, None)
            if attr is None:
                # accept snake_case directly; ignore unknown keys like the
                # reference's json decoder does
                if k in cls.__dataclass_fields__:
                    attr = k
                else:
                    continue
            kwargs[attr] = v
        cfg = cls(**kwargs)
        cfg.validate()
        return cfg

    # --- validation (reference: config/config.go:90-124) -------------
    def validate(self) -> None:
        if not self.user_stage:
            self.user_stage = "~"
        if isinstance(self.target_partition_by, str):
            self.target_partition_by = [
                c.strip()
                for c in self.target_partition_by.split(",")
                if c.strip()
            ]
        if self.source_split_key and self.source_split_time_key:
            raise ConfigError(
                "cannot set both sourceSplitKey and sourceSplitTimeKey"
            )
        if not self.source_split_key and not self.source_split_time_key:
            raise ConfigError(
                "must set one of sourceSplitKey and sourceSplitTimeKey"
            )
        if not self.source_where_condition:
            raise ConfigError(
                "must set sourceWhereCondition when a split key is set"
            )
        if self.source_split_time_key:
            if not _TIME_CONDITION_RE.match(self.source_where_condition):
                raise ConfigError(
                    "SourceSplitTimeKey does not match the required format"
                )
            if self.time_split_unit not in TIME_SPLIT_STRIDES:
                raise ConfigError(
                    f"invalid TimeSplitUnit: {self.time_split_unit}, it "
                    "should be 'minute', 'quarter', 'hour', or 'day'"
                )


def load_config(path: str) -> Config:
    with open(path) as f:
        raw = json.load(f)
    return Config.from_dict(raw)

