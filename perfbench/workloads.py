"""The benchmark's workloads: fixed, committed query lists run through the
harness (``BenchmarkRunner``), one pass at a time.

The lists are subsets so that set-up, a cold pass, the output check and two
warm passes fit one run of about a minute on four cores.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    # "corpus": verbatim TPC-DS files (``corpus/tpcds_ref``) over the fixture
    # warehouse generated from the seed, run by ``BenchmarkRunner.run_suite``.
    # "registry": entries of the ``queries`` registry over the committed
    # tables in ``perfbench/data``, each built by its builder and written to
    # the noop sink by ``BenchmarkRunner.run_sql``.
    kind: str
    queries: tuple[str, ...]  # file stems (run sorted) or registry names


WORKLOADS = {
    w.name: w
    for w in (
        # store_sales scans with no date predicate (q09, q28) and five
        # star-join aggregates of about the same cost over store_sales (q42,
        # q52, q55, q96) and catalog_sales (q20), so the pooled median falls
        # inside that group and does not jump with one file's latency. Every
        # file returns rows at every seed tried: a file whose filters match
        # nothing at some seeds (q03, q37, q82) runs much faster there.
        Workload("corpus_flat", "corpus", ("q09", "q20", "q28", "q42", "q52", "q55", "q96")),
        # pipe_* entries of the registry whose builders do a large share of
        # the work: four of the five run jobs while building, all make many
        # py4j calls, and two (minhash_lsh_candidates, decontamination)
        # execute Python kernels. Entries that build a
        # stored index on first use, and the heaviest builders
        # (dedup_clusters, semantic_dedup), are left out to keep a run
        # near a minute.
        Workload(
            "pipeline",
            "registry",
            (
                "pipe_minhash_lsh_candidates",
                "pipe_events_hourly",
                "pipe_decontamination",
                "pipe_session_window_agg",
                "pipe_sorted_neighborhood",
            ),
        ),
    )
}
