"""The benchmark's workloads: which queries each one runs, and on what.

Each list is one pass. A run makes passes until `--seconds` seconds of
timed passes have run, and at least one.
"""
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple
    scale: int = 0  # k of the seeded k-fold expansion of sf0.1; 0 = sf0.1 as is


WORKLOADS = [
    Workload(
        "families",
        "9 short queries from 9 of the corpus's query families at sf0.1 (SQL, "
        "text, CEP, streaming, connectors): fixed costs dominate",
        ("q1_agg", "h3_order_priority", "j11_asof_join", "sub4_exists_correlated",
         "x12_rolling_fingerprint", "cep1_followed_by",
         "mr1_match_recognize", "st1_stream_tumble", "ty4_changelog_roundtrip")),
    Workload(
        "scale_up",
        "graph, vector, join, text-kernel and stateful-stream queries on a seeded "
        "4x expansion of sf0.1: task execution, shuffle volume and stream state grow",
        ("gr1_connected_components", "v8_gaussian_outlier", "h9_product_profit",
         "d24_cross_channel_frequent", "x12_rolling_fingerprint",
         "st3_stream_interval_join", "st7_stream_session"),
        scale=4),
]
BY_NAME = {w.name: w for w in WORKLOADS}
