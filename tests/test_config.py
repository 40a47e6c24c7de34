"""The reference's shell-style conf file drives the harness directly:
``config/clickhouse.conf.example`` is parsed verbatim, known keys land on
HarnessConfig fields, connection/log keys (no server here) pass through to
``extra`` untouched."""

from clickhousedatamocker_spark.config import HarnessConfig
from tests.conftest import REF_CONF, needs_reference


@needs_reference(REF_CONF)
def test_reference_conf_example_parses_verbatim():
    cfg = HarnessConfig.from_conf_file(REF_CONF)
    assert cfg.database == "default"
    assert cfg.parts_to_delay_insert == 50
    assert cfg.parts_to_throw_insert == 100
    assert cfg.max_partitions_per_insert_block == 100
    assert cfg.batch_size == 100_000
    assert cfg.insert_interval_s == 1.0
    assert cfg.max_insert_count == 60
    # connection/log keys have no Spark counterpart: preserved, not dropped
    assert cfg.extra["CH_HOST"] == "localhost"
    assert cfg.extra["CH_PORT"] == "9000"
    assert cfg.extra["CH_PASSWORD"] == ""
    assert cfg.extra["LOG_LEVEL"] == "INFO"


def test_conf_overrides_win(tmp_path):
    p = tmp_path / "my.conf"
    p.write_text('BATCH_SIZE=5000\nCLEANUP="true"\n# comment\nINSERT_INTERVAL=0.5\n')
    cfg = HarnessConfig.from_conf_file(str(p), batch_size=77)
    assert cfg.batch_size == 77  # kwarg beats file
    assert cfg.cleanup is True
    assert cfg.insert_interval_s == 0.5
