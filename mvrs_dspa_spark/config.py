"""Typed application settings (reference `Settings.scala:1-40` +
`application.conf` analog).

The reference centralizes every tunable — window sizes, replay
speedup, similarity thresholds, Kafka/ES endpoints — in one HOCON
file with env-var overrides. This module is the PySpark-native
equivalent: dataclass sections with the same defaults the operators
shipped with, layered as

    defaults  <  JSON file ($MVRS_DSPA_CONFIG or load_settings(path))
              <  environment (MVRS_DSPA_<SECTION>__<KEY>)

and frozen into the module-level ``settings`` singleton at import.

Oracle-parity invariant: operator modules read their constants FROM
``settings`` at import time and bake them into BOTH the Spark plan
builders and the DuckDB oracle SQL strings, so any override changes
the two engines in lockstep — correctness gates stay green at every
setting (pinned by tests/test_config.py via a subprocess override).

The stream builders take their defaults from the same fields as their
batch twins (``streaming/windowed.py``):
``sliding_stats_stream`` (and with it ``active_post_stats_job``) reads
``activity.window_size_hours`` / ``window_slide_hours`` like
``operators/window_stats.sliding_window_stats``, and
``session_stats_stream`` reads ``sessions.gap_minutes`` like
``operators/sessionize``. Every field here has a reader; a config file
naming a field that does not exist fails with "unknown config key".

Hot reload is intentionally out of scope here: registered queries
capture their constants at import (one process = one config), matching
the reference where changing application.conf means restarting the
job. The ONE reference surface that hot-reloads mid-job — the
clustering control parameters (k / decay / labels, `application.conf`
activity-detection.cluster-parameter-file-path) — is implemented as
such in streaming/kmeans.py (control-file polling between batches).
"""

from __future__ import annotations

import dataclasses
import json
import os
from dataclasses import dataclass, field


@dataclass
class KafkaSettings:
    """ref application.conf `kafka` block."""

    brokers: str = "localhost:9092"


@dataclass
class ElasticsearchSettings:
    """ref application.conf `elasticsearch` block (single-node form)."""

    host: str = "localhost"
    port: int = 9200
    scheme: str = "http"


@dataclass
class DataSettings:
    """ref application.conf `data` block."""

    # event-time replay acceleration (ref: speedup-factor = 10000)
    speedup_factor: float = 10000.0
    # parent directory of the parquet tables (ref: MVRS_DSPA_DATA_DIR)
    tables_directory: str = "/root/testdata/sf0.001"


@dataclass
class ActivitySettings:
    """Sliding activity-statistics windows (ref `active-post-statistics`
    window-size/window-slide, scaled to the 30-day synthetic data the
    same way the operators shipped: 6 h windows sliding hourly)."""

    window_size_hours: int = 6
    window_slide_hours: int = 1


@dataclass
class SessionSettings:
    """Gap-based sessionization (batch + streaming share the gap)."""

    gap_minutes: int = 30


@dataclass
class RecommendationSettings:
    """ref application.conf `recommendation` block."""

    max_recommendation_count: int = 5     # ref: max-recommendation-count
    min_recommendation_similarity: float = 0.1  # ref: min-recommendation-similarity
    active_users_timeout_days: int = 7    # ref: 14 days (30-day data scale)
    minhash_num_hashes: int = 32          # ref: minhash-num-hashes = 100
    lsh_bands: int = 16


@dataclass
class DedupSettings:
    """Document near-dup family thresholds."""

    minhash_num_hashes: int = 32
    lsh_bands: int = 16
    near_dup_similarity: float = 0.5
    ngram_jaccard_threshold: float = 0.3


@dataclass
class ClusteringSettings:
    """ref `activity-detection` block: default-k / default-decay plus
    the embedding-clustering twin."""

    embedding_k: int = 8
    kmeans_iters: int = 8
    default_k: int = 4       # ref: default-k (unusual-activity clusters)
    default_decay: float = 0.2  # ref: default-decay (streaming model)


@dataclass
class Settings:
    kafka: KafkaSettings = field(default_factory=KafkaSettings)
    elasticsearch: ElasticsearchSettings = field(
        default_factory=ElasticsearchSettings
    )
    data: DataSettings = field(default_factory=DataSettings)
    activity: ActivitySettings = field(default_factory=ActivitySettings)
    sessions: SessionSettings = field(default_factory=SessionSettings)
    recommendation: RecommendationSettings = field(
        default_factory=RecommendationSettings
    )
    dedup: DedupSettings = field(default_factory=DedupSettings)
    clustering: ClusteringSettings = field(default_factory=ClusteringSettings)


ENV_PREFIX = "MVRS_DSPA_"


def _coerce(raw: str, to_type: type):
    if to_type is bool:
        return raw.strip().lower() in ("1", "true", "yes", "on")
    return to_type(raw)


def _apply_file(s: Settings, path: str) -> None:
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    for section_name, section_doc in doc.items():
        section = getattr(s, section_name, None)
        if section is None or not isinstance(section_doc, dict):
            raise ValueError(f"unknown config section: {section_name!r}")
        for key, value in section_doc.items():
            if not hasattr(section, key):
                raise ValueError(
                    f"unknown config key: {section_name}.{key!r}"
                )
            # coerce through the default's concrete type so a JSON int
            # lands on a float field as float, etc.
            cur_type = type(getattr(section, key))
            setattr(section, key, cur_type(value))


def _apply_env(s: Settings, environ) -> None:
    for section_field in dataclasses.fields(s):
        section = getattr(s, section_field.name)
        for fld in dataclasses.fields(section):
            env_key = (
                f"{ENV_PREFIX}{section_field.name}__{fld.name}".upper()
            )
            raw = environ.get(env_key)
            if raw is not None:
                setattr(section, fld.name, _coerce(raw, type(getattr(section, fld.name))))


def load_settings(path: str | None = None, environ=None) -> Settings:
    """Build a Settings: defaults < JSON file < env overrides."""
    environ = os.environ if environ is None else environ
    s = Settings()
    path = path or environ.get(f"{ENV_PREFIX}CONFIG")
    if path:
        _apply_file(s, path)
    _apply_env(s, environ)
    return s


#: Frozen at import; operator modules derive their constants (and the
#: oracle SQL baked from them) from this one object.
settings: Settings = load_settings()
