"""Config validation tests — parity with config/config_test.go."""

import glob
import json
import os

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
        assert TIME_SPLIT_STRIDES[cfg.time_split_unit].total_seconds() == 86400

    def test_parallel_time_split_is_accepted(self):
        """The reference refuses ``maxThread > 1`` with a time split
        key (worker/worker.go:139-143); its OFFSET paging hazard does
        not exist here, so the config loads."""
        cfg = Config.from_dict(
            self._base(
                sourceSplitKey="",
                sourceSplitTimeKey="ts",
                sourceWhereCondition="ts > 'a' and ts < 'b'",
                maxThread=4,
            )
        )
        assert cfg.source_split_time_key == "ts"

    @pytest.mark.parametrize("key, value", [
        ("maxThread", 5),
        ("sourceQuery", "select * from db.t"),
        ("databendDSN", "warehouse:8000"),
    ])
    def test_reference_keys_without_a_reader_are_ignored(self, key, value):
        """Keys of the reference's config that this engine reads no
        value from load as unknown keys do, without a field."""
        assert Config.from_dict(self._base(**{key: value})) == Config.from_dict(
            self._base()
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
        assert cfg.source_db_tables == ["db.*@tbl.*"]

    def test_defaults(self):
        cfg = Config.from_dict(self._base())
        assert cfg.batch_size == 1000
        assert cfg.user_stage == "~"
        assert cfg.copy_purge is True


CONF_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "conf")


@pytest.mark.parametrize(
    "path", sorted(glob.glob(os.path.join(CONF_DIR, "*.json"))),
    ids=os.path.basename,
)
def test_shipped_conf_loads_unchanged(path):
    """Every shipped config loads as written: each key the engine
    reads lands on its field, and the reference's keys it reads no
    value from (``maxThread``) are ignored, as unknown keys are."""
    with open(path) as f:
        raw = json.load(f)
    cfg = load_config(path)
    read = {k: v for k, v in raw.items() if k in Config._JSON_KEYS}
    assert {k: getattr(cfg, Config._JSON_KEYS[k]) for k in read} == read
    assert set(raw) - set(read) <= {"maxThread"}
