"""Workload definitions: what each workload runs, on which inputs.

A query workload runs registered queries (``REGISTRY[name].fn`` then
``DataFrame.collect``) over one generated table set; the seed shuffles
their order within each pass. The ETL workload runs the Sparkify
pipeline (``etl.process_song_data`` then ``etl.process_log_data``) over
JSON generated from the seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Tables:
    """Generated parquet tables: TPC-H cardinalities times ``scale``."""

    scale: float = 0.01
    n_docs: int = 500
    n_vecs: int = 500
    seed: int = 42


@dataclass(frozen=True)
class Sparkify:
    """Seeded Sparkify JSON: one file per song, one file per log day."""

    n_songs: int = 100
    n_days: int = 3
    events_per_day: int = 1500


@dataclass(frozen=True)
class Workload:
    """``warmup_passes``: passes after the cold one that are not measured,
    while the JIT still compiles the workload's code paths."""

    name: str
    why: str
    warmup_passes: int
    ops: tuple[str, ...] = ()
    tables: Tables | None = None
    sparkify: Sparkify | None = None


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="queries",
            why=(
                "7 relational queries over 60k lineitem rows and an image near-dup query over 500 "
                "docs: loader, build and planning costs, a pin, Python workers, a band self-join"
            ),
            warmup_passes=1,
            ops=(
                "q1_pricing_summary", "q3_join_topk", "q_window_rank", "q_events_tumbling",
                "q_distinct_users", "q9_product_profit", "q18_large_volume_customers",
                "q_image_phash_dedup",
            ),
            tables=Tables(),
        ),
        Workload(
            name="sparkify_etl",
            why=(
                "the Sparkify JSON to partitioned Parquet pipeline over 100 song files and 3 log "
                "days: many tiny input files, partitioned writes, task launch overhead"
            ),
            warmup_passes=2,
            sparkify=Sparkify(),
        ),
    )
}
