"""Settings merge + validation (configuration.ex 5-layer merge,
utils.ex:45-64 deep-merge with replace-keys; CommonSpider callback
validation, common_spider_test.exs:15-85)."""

from __future__ import annotations

import pytest

from spider_man_spark.config import (
    CrawlConfig,
    SettingsError,
    from_settings,
    merge_settings,
)


def test_deep_merge_precedence():
    merged = merge_settings(
        {"a": 1, "nested": {"x": 1, "y": 2}},
        {"nested": {"y": 3, "z": 4}, "b": 2},
        {"a": 9},
    )
    assert merged == {"a": 9, "nested": {"x": 1, "y": 3, "z": 4}, "b": 2}


def test_replace_keys_do_not_deep_merge():
    # pipelines replace wholesale (utils.ex:48-52)
    merged = merge_settings({"pipelines": {"p1": 1}}, {"pipelines": {"p2": 2}})
    assert merged["pipelines"] == {"p2": 2}


def test_validation_errors():
    with pytest.raises(SettingsError):
        CrawlConfig(tokens_per_epoch=0)
    with pytest.raises(SettingsError):
        CrawlConfig(max_retries=-1)
    with pytest.raises(SettingsError):
        CrawlConfig(callbacks={"not_a_hook": lambda: None})
    with pytest.raises(SettingsError):
        CrawlConfig(callbacks={"init": "not callable"})
    with pytest.raises(SettingsError):
        from_settings({"bogus_key": 1})
    # the shard-selective layout and the frontier_write knob are gone
    with pytest.raises(SettingsError):
        CrawlConfig(frontier_mode="sharded")
    with pytest.raises(SettingsError):
        from_settings(frontier_write="rank")


def test_from_settings_direct_args_win():
    cfg = from_settings({"tokens_per_epoch": 5, "job_name": "a"}, job_name="b")
    assert cfg.job_name == "b"
    assert cfg.tokens_per_epoch == 5


def test_defaults_mirror_reference():
    cfg = CrawlConfig()
    assert cfg.tokens_per_epoch == 10  # configuration.ex:8
    assert cfg.epoch_ms == 1000
    assert cfg.max_retries == 3  # utils.ex:19-21
    assert cfg.dedup is True  # configuration.ex:9,23
