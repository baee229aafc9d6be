"""Config validation tests — parity with config/config_test.go."""

import json

import pytest

from bend_archiver_spark.config import (
    TIME_SPLIT_STRIDES,
    Config,
    ConfigError,
    load_config,
)


class TestValidateSourceSplitTimeKey:
    # config/config_test.go:8-65 — 8 table-driven cases
    @pytest.mark.parametrize(
        "cond,ok",
        [
            ("t1 > 'x' and t1 < 'y'", True),
            ("t1>'x' and t1<'y'", True),
            ("t1 >= 'x' and t1 <= 'y'", True),
            ("t1 >='x' and t1 <'y'", True),
            ("t1>'x' and t1 <='y'", True),
            ("t1 > 'x'", False),
            ("t1 < 'y'", False),
            ("t1 between 'x' and 'y'", False),
        ],
    )
    def test_regex(self, cond, ok):
        d = dict(
            sourceSplitTimeKey="t1",
            sourceWhereCondition=cond,
            sourceTable="t",
            sourceDB="db",
        )
        if ok:
            Config.from_dict(d)
        else:
            with pytest.raises(ConfigError, match="required format"):
                Config.from_dict(d)


class TestStrides:
    # config/config_test.go:67-104
    def test_unit_strides(self):
        assert TIME_SPLIT_STRIDES["minute"].total_seconds() == 600
        assert TIME_SPLIT_STRIDES["quarter"].total_seconds() == 900
        assert TIME_SPLIT_STRIDES["hour"].total_seconds() == 7200
        assert TIME_SPLIT_STRIDES["day"].total_seconds() == 86400


class TestConfigValidation:
    def _base(self, **over):
        d = dict(
            sourceSplitKey="id",
            sourceWhereCondition="id > 0",
            sourceTable="t",
            sourceDB="db",
        )
        d.update(over)
        return d

    def test_both_split_keys_rejected(self):
        with pytest.raises(ConfigError):
            Config.from_dict(
                self._base(sourceSplitTimeKey="ts")
            )

    def test_neither_split_key_rejected(self):
        with pytest.raises(ConfigError):
            Config.from_dict(self._base(sourceSplitKey=""))

    def test_where_required(self):
        with pytest.raises(ConfigError):
            Config.from_dict(self._base(sourceWhereCondition=""))

    def test_time_split_condition_shape(self):
        with pytest.raises(ConfigError):
            Config.from_dict(
                self._base(
                    sourceSplitKey="",
                    sourceSplitTimeKey="ts",
                    sourceWhereCondition="ts > '2024-01-01'",
                )
            )

    def test_time_split_valid(self):
        cfg = Config.from_dict(
            self._base(
                sourceSplitKey="",
                sourceSplitTimeKey="ts",
                sourceWhereCondition="ts > '2024-01-01' and ts < '2024-02-01'",
                timeSplitUnit="day",
            )
        )
        assert cfg.time_split_stride().total_seconds() == 86400

    def test_strict_mode_rejects_parallel_time_split(self):
        with pytest.raises(ConfigError):
            Config.from_dict(
                self._base(
                    sourceSplitKey="",
                    sourceSplitTimeKey="ts",
                    sourceWhereCondition="ts > 'a' and ts < 'b'",
                    maxThread=4,
                    strict_reference_semantics=True,
                )
            )

    def test_bad_time_unit(self):
        with pytest.raises(ConfigError):
            Config.from_dict(
                self._base(
                    sourceSplitKey="",
                    sourceSplitTimeKey="ts",
                    sourceWhereCondition="ts > 'a' and ts < 'b'",
                    timeSplitUnit="week",
                )
            )

    def test_json_roundtrip(self, tmp_path):
        p = tmp_path / "conf.json"
        p.write_text(
            json.dumps(
                {
                    "databaseType": "pg",
                    "sourceHost": "h",
                    "sourcePort": 5432,
                    "sourceDbTables": ["db.*@tbl.*"],
                    "sourceSplitKey": "id",
                    "sourceWhereCondition": "id > 0",
                    "batchSize": 40000,
                    "maxThread": 5,
                    "unknownKey": 1,
                }
            )
        )
        cfg = load_config(str(p))
        assert cfg.database_type == "pg"
        assert cfg.batch_size == 40000
        assert cfg.max_thread == 5
        assert cfg.source_db_tables == ["db.*@tbl.*"]

    def test_defaults(self):
        cfg = Config.from_dict(self._base())
        assert cfg.batch_size == 1000
        assert cfg.max_thread == 1
        assert cfg.user_stage == "~"
        assert cfg.copy_purge is True
