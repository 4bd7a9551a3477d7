"""Reference results, computed in Python, that the benchmark checks the
engine against.

Each function recomputes one engine output from the collected inputs with
numpy, pandas or plain Python, following the semantics the engine documents.
They run after the timed job, outside every measured interval.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd


def _index(src: np.ndarray, dst: np.ndarray):
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return ids, inv[: len(src)], inv[len(src):]


def pagerank(src, dst, iters: int, alpha: float = 0.85) -> pd.Series:
    """Ranks after ``iters`` supersteps, dangling mass redistributed
    uniformly; multi-edges count as multi-links.  Indexed by vertex id."""
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    n = len(ids)
    out_deg = np.bincount(s, minlength=n).astype(float)
    dangling = out_deg == 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.bincount(d, weights=r[s] / out_deg[s], minlength=n)
        r = (1.0 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
    return pd.Series(r, index=ids)


def _undirected(src, dst):
    ids, s, d = _index(np.asarray(src), np.asarray(dst))
    return ids, np.concatenate([s, d]), np.concatenate([d, s])


def min_label_components(src, dst) -> tuple[pd.Series, int]:
    """(min-id component label per vertex, supersteps): one superstep takes
    the minimum over each vertex's label and its neighbours' labels; the
    count includes the last superstep, which changes nothing."""
    ids, s, d = _undirected(src, dst)
    label = ids.copy()
    steps = 0
    while True:
        steps += 1
        nbr = label.copy()
        np.minimum.at(nbr, d, label[s])
        if np.array_equal(nbr, label):
            return pd.Series(label, index=ids), steps
        label = nbr


def label_propagation(src, dst, iters: int) -> pd.Series:
    """Labels after ``iters`` synchronous supersteps over the deduplicated
    undirected graph: each vertex takes its neighbours' most frequent label,
    ties going to the smallest label."""
    ids, s, d = _undirected(src, dst)
    pairs = pd.DataFrame({"s": s, "d": d}).drop_duplicates()
    label = pd.Series(ids, index=np.arange(len(ids)))
    for _ in range(iters):
        votes = pd.DataFrame({"d": pairs["d"].to_numpy(),
                              "label": label.to_numpy()[pairs["s"].to_numpy()]})
        freq = votes.groupby(["d", "label"]).size().reset_index(name="c")
        best = (
            freq.sort_values(["d", "c", "label"], ascending=[True, False, True])
            .drop_duplicates("d")
            .set_index("d")["label"]
        )
        label = label.copy()
        label.loc[best.index] = best.to_numpy()
    return pd.Series(label.to_numpy(), index=ids)


def triangles(src, dst) -> int:
    """Distinct undirected triangles, self-loops ignored."""
    adj: dict[int, set[int]] = {}
    for a, b in zip(src, dst):
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    return sum(
        1
        for a, nb in adj.items()
        for b in nb
        if b > a
        for c in nb & adj[b]
        if c > b
    )


_IMPORT = {
    "python": re.compile(r"^import\s+(\S+:\S+)$", re.MULTILINE),
    "go": re.compile(r'^import\s+"([^"]+)"$', re.MULTILINE),
    "js": re.compile(r"require\('([^']+)'\)"),
}


def resolved_imports(repos: pd.DataFrame) -> Counter:
    """Multiset of (src_repo, src_path, dst_repo, dst_path) import edges:
    an exact (repo, path stem) match wins, else the lowercased stem match,
    the smallest path winning either map; unresolved refs and self-imports
    drop out."""
    exact: dict[tuple[str, str], str] = {}
    norm: dict[tuple[str, str], str] = {}
    for repo, path in zip(repos["repo"], repos["path"]):
        stem = re.sub(r"\.[a-z]+$", "", path)
        for table, key in ((exact, (repo, stem)), (norm, (repo, stem.lower()))):
            if key not in table or path < table[key]:
                table[key] = path
    edges: Counter = Counter()
    for repo, path, lang, content in zip(
        repos["repo"], repos["path"], repos["lang"], repos["content"]
    ):
        for ref in _IMPORT[lang].findall(content):
            if ":" in ref:
                tgt_repo, rest = ref.split(":")[:2]
            else:
                parts = ref.split("/")
                tgt_repo = "/".join(parts[:2])
                rest = re.sub(r"^[^/]+/[^/]+/", "", ref)
            stem = rest.replace(".", "/")
            dst = exact.get((tgt_repo, stem)) or norm.get((tgt_repo, stem.lower()))
            if dst is not None and (tgt_repo, dst) != (repo, path):
                edges[(repo, path, tgt_repo, dst)] += 1
    return edges


def subject_year_rows(vertices: pd.DataFrame, edges: pd.DataFrame,
                      years: list[int], min_in_degree: int = 2) -> set:
    """(year, subject) pairs of the subject lifecycle: a subject is present
    in year y once a member's in-degree over the edges between subject
    carriers, both endpoints dated y or earlier, reaches the gate."""
    year = dict(zip(vertices["id"], vertices["year"]))
    subjects = dict(zip(vertices["id"], vertices["subjects"]))
    carried = {v for v, s in subjects.items() if len(s)}
    e = edges[edges["src"].isin(carried) & edges["dst"].isin(carried)]
    ymax = np.maximum(e["src"].map(year).to_numpy(), e["dst"].map(year).to_numpy())
    rows = set()
    for y in years:
        indeg = e["dst"][ymax <= y].value_counts()
        for v in indeg.index[indeg >= min_in_degree]:
            rows.update((y, s) for s in subjects[v])
    return rows
