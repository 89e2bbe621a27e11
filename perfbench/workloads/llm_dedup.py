"""llm_dedup: the near-duplicate pipeline on two generated corpora, plus a
top-k similarity step.

The corpora sit on either side of ``jaccard_threshold_pairs``'s route:
``templated`` (31-word vocabulary; Σdf² above
``JACCARD_KERNEL_MIN_JOIN_ROWS``) takes the bitset kernel, ``natural``
(Zipf vocabulary) takes the join.  A routing or kernel change then shows
on one corpus and not on the other.  The work is executor- and
shuffle-heavy with few, large jobs.

A pass over both corpora is a cycle of six ops.  Per corpus,
``near_dup`` runs ``exact_dedup`` -> ``minhash_signatures`` ->
``lsh_candidate_pairs`` -> ``verify_jaccard`` -> ``connected_components``,
``threshold_pairs`` runs ``jaccard_threshold_pairs`` and ``topk`` one
``cosine_topk`` query on seeded embeddings.  With six ops a pass's
median is the mean of its two middle ops; with five it jumped between
``natural.near_dup`` and ``templated.threshold_pairs``, whose latencies
are close, from run to run.  The
verified pairs are checkpointed because two consumers read them (the
check and the components).  When tracing, every operator's output is
also checkpointed before the next call, so its time lands in its own
span.  The layer figures below are per pass.
"""

from __future__ import annotations

import numpy as np

from .. import gen
from . import Workload

N_TEMPLATED, N_NATURAL, N_EMBED = 1200, 800, 1000
THRESHOLD = 0.8
TOPK = 10
DEDUP_OPS = ("exact_dedup", "minhash_signatures", "lsh_candidate_pairs",
             "verify_jaccard", "connected_components", "jaccard_threshold_pairs")


def _token_sets(texts: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """0/1 document x token matrix of distinct tokens, and set sizes."""
    sets = [set(t.split(" ")) for t in texts]
    vocab = {w: i for i, w in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(sets), len(vocab)), np.float32)
    for r, s in enumerate(sets):
        x[r, [vocab[w] for w in s]] = 1.0
    return x, x.sum(1)


class Corpus:
    """A generated corpus, the document-frequency cap its threshold
    pairs use, and its brute-force references."""

    def __init__(self, name: str, texts: list[str], df_cap: int):
        self.name, self.texts, self.df_cap = name, texts, df_cap
        self._ref = None

    def ref(self):
        if self._ref is None:
            x, sz = _token_sets(self.texts)
            df = x.sum(0)
            rare = x[:, df <= self.df_cap]
            self._ref = {"inter": (x @ x.T).astype(np.int64), "sz": sz.astype(np.int64),
                         "rare_inter": (rare @ rare.T).astype(np.int64),
                         "sum_df2": int((df.astype(np.int64) ** 2).sum()),
                         "vocab": x.shape[1]}
        return self._ref

    def threshold_pairs(self) -> set[tuple]:
        """Every (d1, d2, inter, sz1, sz2), d1 < d2, with Jaccard >= 4/5
        that shares at least one token at or below the cap."""
        r = self.ref()
        inter, sz = r["inter"], r["sz"]
        i, j = np.triu_indices(len(sz), 1)
        it = inter[i, j]
        keep = (5 * it >= 4 * (sz[i] + sz[j] - it)) & (r["rare_inter"][i, j] >= 1)
        return set(zip(i[keep].tolist(), j[keep].tolist(), it[keep].tolist(),
                       sz[i[keep]].tolist(), sz[j[keep]].tolist()))

    def jaccard(self, a: int, b: int) -> float:
        r = self.ref()
        it = r["inter"][a, b]
        return float(it) / float(r["sz"][a] + r["sz"][b] - it)


def _components(pairs) -> dict[int, int]:
    """node -> minimum node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


class LlmDedup(Workload):
    name = "llm_dedup"
    cycle = ("templated.near_dup", "templated.threshold_pairs", "topk",
             "natural.near_dup", "natural.threshold_pairs", "topk")

    def __init__(self, h):
        super().__init__(h)
        self.counts: list[tuple] = []

    def generate(self, d: str) -> list[str]:
        seed = self.h.seed
        from datastore_mapper_spark.queries.llm_text import NEAR_DUP_DF_CAP

        if not hasattr(self, "corpora"):
            # one seed, one set of corpora: later set-ups rewrite the same
            # files, and the references are computed once
            self.corpora = [
                # the near-dup census's cap, which no token reaches here
                Corpus("templated", gen.templated_corpus(seed, N_TEMPLATED, (20, 60), 0.1),
                       NEAR_DUP_DF_CAP),
                # a stopword cap: tokens in more than 1% of documents do
                # not generate candidates, so the join stays near-linear
                Corpus("natural", gen.natural_corpus(seed, N_NATURAL), N_NATURAL // 100),
            ]
        emb = gen.embeddings_table(seed, N_EMBED, stream="llm-embeddings")
        self.vecs = np.asarray(emb.column("embedding").combine_chunks().flatten(),
                               np.float32).reshape(N_EMBED, -1)
        self.catalog_dirs = []
        for c in self.corpora:
            p = gen.write_sf_dir(f"{d}/{c.name}", seed, 0.001,
                                 documents=gen.documents_table(c.texts, seed),
                                 embeddings=emb)
            self.catalog_dirs.append(p)
        return self.catalog_dirs

    def load(self, spark) -> None:
        from datastore_mapper_spark.catalog import load_tables

        self.docs = [self.h.timed_layer("catalog.load_tables_cold", load_tables, spark, p)
                     ["documents"] for p in self.catalog_dirs]
        self.emb = load_tables(spark, self.catalog_dirs[0])["embeddings"]

    def _mat(self, df, always: bool = False):
        """Checkpoint ``df`` when tracing (or ``always``) so the next
        operator starts from materialized input."""
        if not (always or self.tracer.enabled):
            return df
        with self.tracer.span("spark.exec.materialize"):
            return df.localCheckpoint()

    def _count(self, df, key: str, stats: dict) -> None:
        if self.tracer.enabled:
            with self.tracer.span("spark.exec.count"):
                stats[key] = df.count()

    def op(self, i: int):
        kind = self.last_kind = self.cycle[i % len(self.cycle)]
        if kind == "topk":
            return kind, self._topk(i)
        name, step = kind.split(".")
        c, docs = next((c, d) for c, d in zip(self.corpora, self.docs) if c.name == name)
        if step == "near_dup":
            return kind, (c, *self._near_dup(c, docs))
        return kind, (c, self._threshold_pairs(c, docs))

    def _near_dup(self, c: Corpus, docs):
        from datastore_mapper_spark.operators import dedup

        span = self.tracer.span
        st: dict = {}
        with span("operators.dedup.exact_dedup", corpus=c.name):
            ex = dedup.exact_dedup(docs, ["text"])
        ex = self._mat(ex)
        with span("operators.dedup.minhash_signatures", corpus=c.name):
            sig = dedup.minhash_signatures(ex)
        sig = self._mat(sig)
        with span("operators.dedup.lsh_candidate_pairs", corpus=c.name):
            cand = dedup.lsh_candidate_pairs(sig)
        cand = self._mat(cand)
        self._count(cand, "candidates", st)
        with span("operators.dedup.verify_jaccard", corpus=c.name):
            ver = dedup.verify_jaccard(cand, ex, threshold=THRESHOLD)
        ver = self._mat(ver, always=True)
        ver_rows = self.collect(ver)
        self.counts.append((self.tracer.op, c.name, st.get("candidates", 0), len(ver_rows)))
        with span("operators.dedup.connected_components", corpus=c.name):
            cc = dedup.connected_components(ver)
        return ver_rows, self.collect(cc)

    def _threshold_pairs(self, c: Corpus, docs):
        from pyspark.sql import functions as F

        from datastore_mapper_spark.operators import dedup

        doc_toks = docs.select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
        with self.tracer.span("operators.dedup.jaccard_threshold_pairs", corpus=c.name):
            jp = dedup.jaccard_threshold_pairs(doc_toks, c.df_cap, 4, 5)
        return self.collect(jp)

    def _topk(self, i: int):
        from datastore_mapper_spark.operators import similarity

        qid = int(np.random.default_rng([self.h.seed, i + 1000]).integers(0, N_EMBED))
        with self.tracer.span("operators.similarity.cosine_topk"):
            top = similarity.cosine_topk(self.emb, qid, k=TOPK)
        return qid, self.collect(top)

    def check(self, kind: str, out) -> str | None:
        if kind == "topk":
            return self._check_topk(*out)
        if kind.endswith(".threshold_pairs"):
            c, jp_rows = out
            got_jp = {tuple(r) for r in jp_rows}
            if len(jp_rows) != len(got_jp) or got_jp != c.threshold_pairs():
                return (f"{c.name}: jaccard_threshold_pairs gave {len(jp_rows)} pairs, "
                        f"brute force {len(c.threshold_pairs())}")
            return None
        c, ver_rows, cc_rows = out
        texts = c.texts
        for d1, d2, jac in ver_rows:
            if texts[d1] == texts[d2]:
                return f"{c.name}: verified pair ({d1}, {d2}) survived exact dedup"
            if jac != c.jaccard(d1, d2) or jac < THRESHOLD:
                return (f"{c.name}: verified pair ({d1}, {d2}) jaccard {jac} vs "
                        f"reference {c.jaccard(d1, d2)}")
        want = _components((r[0], r[1]) for r in ver_rows)
        got = {r[0]: r[1] for r in cc_rows}
        if got != want or len(cc_rows) != len(got):
            return f"{c.name}: components differ from those of the verified pairs"
        return None

    def _check_topk(self, qid: int, rows) -> str | None:
        v = self.vecs.astype(np.float64)
        norms = np.sqrt((v * v).sum(1))
        sims = np.round(v @ v[qid] / (norms * norms[qid]), 4)
        sims[qid] = -np.inf
        order = sorted(range(len(sims)), key=lambda k: (-sims[k], k))[:TOPK]
        got_ids = [r[0] for r in rows]
        got_sims = np.array([r[1] for r in rows])
        if len(rows) != TOPK or np.abs(got_sims - sims[got_ids]).max() > 1e-4:
            return f"cosine_topk({qid}): similarities differ from numpy"
        # ties within rounding may order differently; the k-th score must agree
        if set(got_ids) != set(order) and abs(got_sims.min() - sims[order[-1]]) > 1e-4:
            return f"cosine_topk({qid}): neighbours {got_ids} != {order}"
        return None

    def rows(self, kind: str, out) -> int:
        """Documents through the near-dup pipeline."""
        return len(out[0].texts) if kind.endswith(".near_dup") else 0

    def metrics(self, ops) -> dict:
        from datastore_mapper_spark.operators.bitset import kernel_fits
        from datastore_mapper_spark.operators.dedup import JACCARD_KERNEL_MIN_JOIN_ROWS

        routes = {}
        for c in self.corpora:
            r = c.ref()
            kernel = (r["sum_df2"] >= JACCARD_KERNEL_MIN_JOIN_ROWS
                      and kernel_fits(len(c.texts), r["vocab"]))
            routes[c.name] = {"sum_df2": r["sum_df2"], "vocab": r["vocab"],
                              "docs": len(c.texts), "route": "kernel" if kernel else "join"}
        return {"operators.bitset.kernel_route": routes}

    def layer_metrics(self, ops) -> dict:
        spans = [s for s in self.tracer.spans if s.op in {o.i for o in ops}]
        n = max(1.0, len(ops) / len(self.cycle))
        m = {}
        for name in DEDUP_OPS:
            for c in self.corpora:
                m[f"operators.dedup.{name}_s.{c.name}"] = sum(
                    s.dur for s in spans if s.name == f"operators.dedup.{name}"
                    and s.attrs.get("corpus") == c.name) / n
            m[f"operators.dedup.{name}_s"] = sum(
                s.dur for s in spans if s.name == f"operators.dedup.{name}") / n
        mine = [c for c in self.counts if c[0] in {o.i for o in ops}]
        cand, ver = sum(c[2] for c in mine), sum(c[3] for c in mine)
        m["operators.dedup.candidates"] = cand / n
        m["operators.dedup.verified_pairs"] = ver / n
        m["operators.dedup.verify_yield"] = ver / cand if cand else 0.0
        m["operators.similarity.cosine_topk_s"] = sum(
            s.dur for s in spans if s.name == "operators.similarity.cosine_topk") / n
        return m
