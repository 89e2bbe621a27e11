"""olap_mix: read-only registry queries on a generated sf-shaped directory.

At this scale every query is dominated by overhead (DataFrame
construction, Catalyst planning, job and stage scheduling, result
transfer), so the ``queries``, ``spark.plan`` and ``spark.exec`` layers
carry the op time and the engine's operators barely run.
"""

from __future__ import annotations

import numpy as np

from .. import gen
from . import Workload

#: bench.py's 13 headline queries (pinned here so the workload does not
#: change when that list does)
HEADLINE = (
    "agg_group_pricing_summary", "join_multiway_revenue", "topk_global",
    "window_rank_topn_per_group", "agg_count_distinct", "tumbling_window_1h",
    "fn_explode_unnest", "join_semi", "join_anti", "agg_rollup",
    "session_windows_gap30m", "knn_cosine_top10", "dedup_exact",
)
#: the registry's 20 flagship TPC-H-style queries
FLAGSHIP = (
    "tpch_q2_min_cost_supplier", "tpch_q3_shipping_priority", "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue", "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q10_returned_items", "tpch_q11_important_stock",
    "tpch_q12_shipmode_priority", "tpch_q13_customer_distribution",
    "tpch_q14_promo_revenue", "tpch_q15_top_supplier", "tpch_q16_supplier_part_count",
    "tpch_q17_small_quantity", "tpch_q18_large_orders", "tpch_q19_disjunctive",
    "tpch_q20_nested_in", "tpch_q21_waiting_supplier",
    "tpch_q22_global_sales_opportunity",
)
QUERIES = HEADLINE + FLAGSHIP
SF = 0.005


class OlapMix(Workload):
    name = "olap_mix"
    cycle = QUERIES

    def __init__(self, h):
        super().__init__(h)
        from datastore_mapper_spark.registry import all_queries

        specs = all_queries()
        self.specs = {q: specs[q] for q in QUERIES}
        self.oracle: dict[str, tuple[list[str], list[str]]] = {}
        self.con = None

    def generate(self, d: str) -> list[str]:
        from datastore_mapper_spark.testing import duckdb_oracle_connection

        self.sf = gen.write_sf_dir(d, self.h.seed, SF)
        self.catalog_dirs = [self.sf]
        self.oracle.clear()
        self.con = duckdb_oracle_connection(self.sf)
        return [self.sf]

    def query_at(self, i: int) -> str:
        """Pass ``i // n`` runs every query once, in an order drawn from
        the seed and the pass number."""
        p, k = divmod(i, len(QUERIES))
        order = np.random.default_rng([self.h.seed, p + 1000]).permutation(len(QUERIES))
        return QUERIES[order[k]]

    def op(self, i: int):
        q = self.last_kind = self.query_at(i)
        return q, self._run(q)

    def _run(self, q: str):
        with self.tracer.span("queries.build", query=q):
            df = self.specs[q].fn(self.spark, self.sf)
        return df.columns, self.collect(df)

    def _oracle(self, q: str):
        from datastore_mapper_spark.testing import canon_rows

        if q not in self.oracle:
            cur = self.con.execute(self.specs[q].oracle)
            cols = [d[0] for d in cur.description]
            self.oracle[q] = (sorted(cols), canon_rows(cols, cur.fetchall()))
        return self.oracle[q]

    def check(self, q: str, result) -> str | None:
        from datastore_mapper_spark.testing import canon_rows

        cols, rows = result
        ocols, orows = self._oracle(q)
        if sorted(cols) != ocols:
            return f"{q}: columns {sorted(cols)} != oracle {ocols}"
        got = canon_rows(cols, [tuple(r) for r in rows])
        if got != orows:
            return f"{q}: {len(got)} rows differ from the oracle's {len(orows)}"
        return None

    def rows(self, q: str, result) -> int:
        return len(result[1])

    def layer_metrics(self, ops) -> dict:
        ids = {o.i for o in ops}
        build = sum(s.dur for s in self.tracer.spans
                    if s.name == "queries.build" and s.op in ids)
        return {"queries.build_s": build / max(1, len(ops))}
