"""Workload definitions: which steps each workload runs, in order.

A step is one call into the package's public entry points followed by
the action that materializes it.  Registry steps call
``spark_queries()[name](spark, data_dir)`` and collect the result;
the CID step calls ``plans.cid_pipeline.run_etl`` (combined mode) and
then ``sources.sinks.write_csv_single``, which is what ``cli.main`` does.

Each step belongs to a family named after what it stresses; the
families are reported separately in the traced run.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from gen import TABLES

#: Each run pays a cold set-up (a JVM launch, a trivial query and the
#: Python worker pool, about 16 s on 4 cores) before its first step, and
#: a full evaluation makes 22 runs per workload inside a fixed time
#: budget, so each family keeps a representative subset of its queries;
#: README.md lists what was left out and why.  A pass runs on a fresh
#: JVM, where one step's time is mostly compilation and varies by a fifth
#: or more from run to run; many mid-sized steps average that out, one
#: large step does not.
STAR_SQL = (
    "pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_orders",
    "range_join_acctbal_bands",
    "priority_dedup_orders",
    "union_priority_dedup",
    "window_topk_orders_per_customer",
)
CID_INGEST = (
    "cid_etl_combined",
    "stream_dedup_admission",
)
#: corpus_curation_pipeline runs first: the first step of a pass pays
#: most of the JVM's remaining warm-up, and it is the cheapest here.
LLM_CURATION = (
    "corpus_curation_pipeline",
    "winnowing_fingerprints_verified",
    "minhash_lsh_verified",
    "cosine_topk_ivf_fullprobe",
)
GRAPH_ITERATIVE = (
    "adamic_adar_link_prediction",
    "lpa_communities_copurchase",
    "pagerank_copurchase",
)

FAMILIES = {
    "star_sql": STAR_SQL,
    "cid_ingest": CID_INGEST,
    "llm_curation": LLM_CURATION,
    "graph_iterative": GRAPH_ITERATIVE,
}

#: workload name -> families it runs, in order
WORKLOADS = {
    "star_ingest": ("star_sql", "cid_ingest"),
    "curation_graph": ("llm_curation", "graph_iterative"),
}

CID_COMBINED_INPUTS = (
    "datasus.csv", "chapters.csv", "blocks.csv", "categories.csv", "subcategories.csv",
)


@dataclass(frozen=True)
class Step:
    name: str
    family: str
    kind: str  # "query" or "cid_combined"
    inputs: tuple[str, ...]  # manifest keys of the generated files it reads


def tables_in(sql: str) -> tuple[str, ...]:
    """Generated tables an oracle query reads: its touched inputs."""
    return tuple(t for t in TABLES if re.search(rf"\b{t}\b", sql))


def steps(workload: str, oracle: dict[str, str]) -> list[Step]:
    out = []
    for fam in WORKLOADS[workload]:
        for name in FAMILIES[fam]:
            if name == "cid_etl_combined":
                out.append(Step(name, fam, "cid_combined", CID_COMBINED_INPUTS))
            else:
                out.append(Step(name, fam, "query", tables_in(oracle[name])))
    return out
