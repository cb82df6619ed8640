"""Structured-logging tests mirroring reference
``tests/unit/test_logging.py:22-96`` intent: console format writes no
file, JSON format + file logging produce parseable JSON lines with
event/level keys, rotation honors the byte cap, and get_logger binds
(service, env) context. No Spark needed — pure driver-side config."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from ecommerce_realtime_pipeline_spark import logging_config as lc
from ecommerce_realtime_pipeline_spark.settings import Settings

pytestmark = pytest.mark.usefixtures("reset_root_logging")


def test_console_format_no_file(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "console")
    monkeypatch.setenv("LOG_TO_FILE", "false")
    settings = Settings()
    lc.configure_logging(settings)
    lc.get_logger("test.console").info("hello", foo="bar")
    assert not Path("logs/app.log").exists()


def test_json_format_and_file(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "json")
    monkeypatch.setenv("LOG_TO_FILE", "true")
    settings = Settings()
    lc.configure_logging(settings)
    log = lc.get_logger("test.json")
    log.info("event_one", alpha=1)
    log.warning("event_two", beta=2)
    content = Path("logs/app.log").read_text(encoding="utf-8").strip()
    lines = [json.loads(line) for line in content.splitlines()]
    assert {e["event"] for e in lines} == {"event_one", "event_two"}
    assert all("level" in e and "timestamp" in e for e in lines)
    assert lines[0]["alpha"] == 1 and lines[1]["beta"] == 2
    assert lines[1]["level"] == "warning"


def test_rotation_honors_byte_cap(monkeypatch, tmp_path):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "json")
    monkeypatch.setenv("LOG_TO_FILE", "true")
    monkeypatch.setenv("LOG_FILE_MAX_BYTES", "500")
    monkeypatch.setenv("LOG_FILE_BACKUP_COUNT", "2")
    settings = Settings()
    assert settings.log_file_max_bytes == 500
    lc.configure_logging(settings)
    log = lc.get_logger("test.rotate")
    for i in range(50):
        log.info("filler_event", i=i, pad="x" * 40)
    assert Path("logs/app.log").exists()
    assert Path("logs/app.log").stat().st_size <= 600  # cap + one record
    assert Path("logs/app.log.1").exists()  # rotation happened
    # backupCount enforced: no .3 file ever
    assert not Path("logs/app.log.3").exists()


def test_get_logger_binds_context(monkeypatch, tmp_path, capsys):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "json")
    monkeypatch.setenv("SERVICE_NAME", "svc-x")
    monkeypatch.setenv("APP_ENV", "testenv")
    settings = Settings()
    lc.configure_logging(settings)
    lc.get_logger("test.bound", settings).info("bound-test")
    entry = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert entry["event"] == "bound-test"
    assert entry["service"] == "svc-x"
    assert entry["env"] == "testenv"


def test_bind_is_immutable(monkeypatch, tmp_path, capsys):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "json")
    settings = Settings()
    lc.configure_logging(settings)
    base = lc.get_logger("test.immutable")
    bound = base.bind(component="producer")
    bound.info("with-ctx")
    base.info("without-ctx")
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    by_event = {e["event"]: e for e in lines}
    assert by_event["with-ctx"]["component"] == "producer"
    assert "component" not in by_event["without-ctx"]


def test_level_filtering(monkeypatch, tmp_path, capsys):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("LOG_FORMAT", "json")
    monkeypatch.setenv("LOG_LEVEL", "WARNING")
    settings = Settings()
    lc.configure_logging(settings)
    log = lc.get_logger("test.level")
    log.info("too-quiet")
    log.warning("loud")
    out = capsys.readouterr().out
    assert "too-quiet" not in out and "loud" in out
