"""The benchmark's workloads: which operations a pass runs, at what
input scale, and which input rows count toward `rows_per_s`.

Every operation is a public entry point of the program: a
`__spark_entry__.queries()` function, or `write_outputs` from
`capstone_etl_spark.sinks.writers` (the reference's three-collection
write). BENCHMARK.json records why each workload exists and which
layers it should and should not move.
"""

from __future__ import annotations

from dataclasses import dataclass

from perfbench.gen import Scale

# the seed the benchmark's own tests check outputs at
COMMITTED_SEED = 1

WRITE_OUTPUTS = "write_outputs"
# write_outputs writes these collections; each is checked against the
# oracle of the query that projects the same relation
COLLECTION_ORACLES = {
    "wikibooks": "wikibooks_docs",
    "tokens": "tokens_collection",
    "token_vector": "token_vector_collection",
}


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    scale: Scale
    row_tables: tuple[str, ...]  # tables whose rows a pass reads

    def oracle_names(self) -> tuple[str, ...]:
        out: list[str] = []
        for op in self.ops:
            out += COLLECTION_ORACLES.values() if op == WRITE_OUTPUTS else [op]
        return tuple(out)


# Which per-layer metrics each workload should move, and the layers it
# bypasses (a change there should leave it unchanged):
# - wikibooks_etl moves sources.* (the wordlist scan behind the
#   dictionary gate included), operators.*, session.cached.calls,
#   sinks.* and spark.shuffle_*; write_outputs runs ~75 Spark jobs, so
#   spark.jobs/stages move job_s. It bypasses streaming.* and
#   session.checkpoint_truncate.*.
# - llm_curation moves operators.build_* (eager loop and drain jobs),
#   session.checkpoint_truncate.*, streaming.* and spark.jobs/stages;
#   it is bound by per-job and per-micro-batch overhead
#   (spark.core_util ~0.2). It bypasses sinks.* and the text layers.
#
# There is no star-schema workload: a full evaluation of the benchmark
# makes 4 + 22 runs per workload within a fixed time budget, and on a
# 4-core host a third workload leaves too little of it spare. The
# generator's star tables serve perfbench/tests/test_known_defects.py,
# which keeps the min_cost_supplier defect they exposed in view.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "wikibooks_etl",
            ("dictionary_file_gate", "inverted_index", WRITE_OUTPUTS),
            Scale(documents=1_000),
            ("documents",),
        ),
        Workload(
            "llm_curation",
            ("pca_power_iteration", "stream_ab_test"),
            Scale(embeddings=1_000, events=20_000),
            ("embeddings", "events"),
        ),
    )
}
