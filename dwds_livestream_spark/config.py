"""Engine configuration — mirrors the reference's env.clj constants.

The BASELINE.md operational constants that the engine reads live here,
so its behavior is tunable the same way the reference's env vars were
(reference: src/dwds/livestream/env.clj:1-56).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # Source (access_log.clj:123-124: 1000 ms Tailer poll).
    trigger_interval: str = "1 second"
    # Collector sink (collector.clj:97-98: 128-row transactions).
    sink_batch_size: int = 128
    # Lemma length cap (collector.clj:87, VARCHAR(128)).
    max_lemma_len: int = 128
    # JDBC fetch size for dimension scans (wbdb.clj:36).
    jdbc_fetch_size: int = 1024
    # Driver-side fan-out guard (VERDICT r1 #5): max rows one
    # micro-batch may collect() for hub publishing. Bounds driver
    # memory independently of batch size; 64k JSON lines ≈ tens of MB.
    max_publish_rows: int = 65_536
    # Sink retry/backoff (collector.clj:105).
    sink_retry_base_ms: int = 1_000
    sink_retry_cap_ms: int = 20_000
    # Legacy sub-dictionary path segments excluded by sub-wb?
    # (access_log.clj:70-72).
    sub_dictionaries: tuple[str, ...] = (
        "dwb",
        "dwb2",
        "etymwb",
        "wdg",
        "index",
        "Wörterbuch",
    )


DEFAULT_CONFIG = EngineConfig()
