"""The benchmark's workloads: which generated inputs, which queries.

Each workload is one closed-loop client running its query list in order,
pass after pass.  Set-up ends with the workload's ``warm`` untimed passes,
so the timed ones start after the JVM's steepest warm-up.  A run then makes
``max(2, round(seconds / pass_s))`` timed passes, where ``pass_s`` is the
nominal warm pass on a 4-core host, so every run of one workload yields
the same number of samples.  Why each
workload exists, and which queries it leaves out, is in ``NOTES.md``.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    replicas: int         # 1 = the sf0.01-sized base tables as generated
    queries: tuple[str, ...]
    pass_s: float         # nominal warm pass on a 4-core host, seconds
    warm: int             # untimed passes at the end of set-up

    @property
    def data_key(self) -> str:
        return f"sf0.01x{self.replicas}"


WORKLOADS = {
    "tracking_sf1": Workload(
        replicas=10,
        queries=("q_flagship_truespeed", "q_trajectory_features",
                 "q_submission_spine"),
        pass_s=5.0, warm=2),
    "sketch_dedup": Workload(
        replicas=1,
        queries=("q_minhash_pairs", "q_media_ahash", "q_hilbert_values",
                 "q_bpe_merges", "q_cosine_topk", "q_centroid_score",
                 "q_kcore"),
        pass_s=6.5, warm=1),
}
