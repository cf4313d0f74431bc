"""Output checks run after every ``cli dedup``.

``dup_pairs`` is hashed without regard to row order over
(url_a, url_b, jaccard rounded to 1e-9). ``clusters`` is hashed after
relabelling each cluster by its minimum url, because the engine's dense
cluster ids depend on partition layout. The hashes are compared with the
values recorded per (workload, seed) in ``expected.json``; seeds without a
record are held to the structural invariants, to a sampled exact
recomputation of the reported Jaccard values, and to agreement between all
runs of one process.
"""

from __future__ import annotations

import hashlib
import json
import os
import random

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def read_table(path: str):
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pydict()


def _digest(lines) -> str:
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def pair_rows(pairs: dict) -> list[tuple[str, str, float]]:
    return list(zip(pairs["url_a"], pairs["url_b"], pairs["jaccard"]))


def cluster_keys(clusters: dict) -> dict[str, str]:
    """url -> minimum url of its cluster."""
    key: dict[int, str] = {}
    for url, cid in zip(clusters["url"], clusters["cluster_id"]):
        if cid not in key or url < key[cid]:
            key[cid] = url
    return {url: key[cid] for url, cid in zip(clusters["url"], clusters["cluster_id"])}


def hash_pairs(rows) -> str:
    return _digest(f"{a}\t{b}\t{j:.9f}" for a, b, j in rows)


def hash_clusters(keys: dict[str, str]) -> str:
    return _digest(f"{u}\t{k}" for u, k in keys.items())


def _components(rows) -> dict[str, str]:
    """Union-find over the pair graph; url -> component minimum url."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {u: find(u) for u in parent}


def invariant_errors(rows, keys: dict[str, str], n_cluster_rows: int, tau: float) -> list[str]:
    errs = []
    seen = set()
    for a, b, j in rows:
        if not a < b:
            errs.append(f"pair not canonical: {a} {b}")
        if j < tau:
            errs.append(f"pair below tau: {a} {b} {j}")
        if (a, b) in seen:
            errs.append(f"duplicate pair: {a} {b}")
        seen.add((a, b))
        if len(errs) > 5:
            return errs
    if len(keys) != n_cluster_rows:
        errs.append("a url appears in more than one clusters row")
    if keys != _components(rows):
        errs.append("clusters differ from the connected components of dup_pairs")
    return errs


def sampled_jaccard_errors(rows, texts: dict[str, str], cfg, seed: int, k: int = 12) -> list[str]:
    """Recompute the Jaccard of ``k`` sampled output pairs with the
    package's single-document oracle sketches."""
    from cuda_selection_criteria_spark.oracle import doc_sketches
    from cuda_selection_criteria_spark.sketchlib.hll import union_cardinality

    errs = []
    sample = random.Random(seed).sample(rows, min(k, len(rows)))
    for a, b, j in sample:
        ra, _, ca, _ = doc_sketches(texts[a], cfg)
        rb, _, cb, _ = doc_sketches(texts[b], cfg)
        t = union_cardinality(ra, rb, cfg.hll_p)
        want = (int(ca) + int(cb) - t) / t
        if abs(want - j) > 1e-9:
            errs.append(f"jaccard mismatch {a} {b}: {j} != {want}")
    return errs


def oracle_errors(rows, texts: dict[str, str], cfg, subset: bool) -> list[str]:
    """Compare with ``oracle.oracle_dup_pairs`` (O(N^2): small N only).
    ``subset``: star pairing emits a subset of the all-pairs output."""
    from cuda_selection_criteria_spark.oracle import oracle_dup_pairs

    want = {
        (min(a, b), max(a, b)): j
        for a, b, j in oracle_dup_pairs(sorted(texts.items()), cfg)
    }
    got = {(a, b): j for a, b, j in rows}
    errs = [f"pair not in oracle: {p}" for p in got if p not in want]
    errs += [
        f"jaccard differs from oracle: {p}"
        for p in got
        if p in want and abs(got[p] - want[p]) > 1e-9
    ]
    if not subset and set(got) != set(want):
        errs.append(f"oracle has {len(want)} pairs, engine {len(got)}")
    if subset and not got and want:
        errs.append("engine found no pairs, oracle found some")
    return errs[:6]


def load_expected() -> dict:
    if not os.path.exists(EXPECTED_PATH):
        return {}
    with open(EXPECTED_PATH) as f:
        return json.load(f)


class OutputCheck:
    """Checks every run of one (workload, seed) in one process."""

    def __init__(self, workload, seed: int, texts: dict[str, str], n_pages: int):
        self.workload = workload
        self.seed = seed
        self.texts = texts
        self.cfg = workload.config()
        rec = load_expected().get(workload.name, {})
        if rec.get("n_pages") == n_pages:
            self.expected = rec["seeds"].get(str(seed))
        else:
            self.expected = None
        self.mode = "recorded" if self.expected else "invariants"
        self.first: dict | None = None
        self.first_rows: list | None = None
        self.errors: list[str] = []

    def check(self, warehouse: str) -> bool:
        rows = pair_rows(read_table(os.path.join(warehouse, "dup_pairs")))
        clusters = read_table(os.path.join(warehouse, "clusters"))
        keys = cluster_keys(clusters)
        got = {
            "pairs": hash_pairs(rows),
            "clusters": hash_clusters(keys),
            "n_pairs": len(rows),
            "n_cluster_rows": len(clusters["url"]),
        }
        errs = []
        if self.expected is not None:
            if (got["pairs"], got["clusters"]) != (self.expected["pairs"], self.expected["clusters"]):
                errs.append(f"hashes differ from the recorded ones: {got} vs {self.expected}")
        if self.first is None:
            # structure and a sampled exact recomputation, once per process
            errs += invariant_errors(rows, keys, got["n_cluster_rows"], self.cfg.tau)
            errs += sampled_jaccard_errors(rows, self.texts, self.cfg, self.seed)
            self.first, self.first_rows = got, rows
        elif got != self.first:
            errs.append(f"output differs between runs: {got} vs {self.first}")
        self.errors += errs
        return not errs
