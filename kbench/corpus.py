"""Workload ``corpus_mixed``: one client in the Spark application's
Python process calls the corpus entry points directly; the server,
parser, engine and column catalog are idle.

Request kinds (class in brackets), per cycle in this order:

- seven index-served searches [read], two rounds of one each:
  ``text_search_bm25``, ``text_search_indexed``, ``text_search_phrase``,
  ``text_search_fuzzy``, ``rag_context_indexed``,
  ``sim_ann_ivf_pq_stored``, ``hybrid_search``, with seeded terms from
  the head, middle and tail of the vocabulary and seeded ``k``. rag, ann
  and hybrid run their two pooled argument sets, one per round: ann with
  ``n_probe`` 2 and 4, hybrid with a head and a middle keyword, so every
  seed runs the same shape of work;
- two streaming-maintenance calls [write]: ``stream_vector_assignments``
  and ``stream_token_postings`` (each streams the whole table);
- one ``curate_survivors`` pass [heavy].

Set-up builds every index and warms every search and ingest kind, from
a small thread pool so that independent builds overlap. The curation pass
is not warmed: a second pass would cost as much as the rest of the run
(about 15 s at 4 cores), so the measured pass is the session's first.

Checks, after the run: bm25 against the library's ``_bm25_sql`` in
DuckDB; indexed, phrase and fuzzy against direct Python evaluation over
the generated documents; rag, ann and hybrid (no exact twin) against the
set-up result for the same arguments, drawn from a seeded pool of two
per kind; ingest against its set-up result by row count plus value hash;
curate by invariants of its output (distinct input doc ids, input
``lang``, ``n_tokens`` of the text, ``shard`` of the doc id). DuckDB needs
about 30 s for ``CURATE_SURVIVORS_SQL``, twice the pass itself, so the
exact comparison is made once, by the self-tests.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from kbench.inputs import N_DOCS, RARE, WORDS, corpus_frames, dir_bytes
from kbench.stats import SEARCH_KINDS

POOLED = ("rag", "ann", "hybrid")


def value_hash(rows) -> tuple[int, str]:
    """(row count, order-independent hash of the row values)."""
    digests = sorted(hashlib.sha1(repr(tuple(r)).encode()).hexdigest() for r in rows)
    return len(digests), hashlib.sha1("".join(digests).encode()).hexdigest()


def levenshtein1(a: str, b: str) -> bool:
    """True when a and b are within edit distance 1."""
    if a == b:
        return True
    if abs(len(a) - len(b)) > 1:
        return False
    if len(a) == len(b):
        return sum(x != y for x, y in zip(a, b)) == 1
    if len(a) > len(b):
        a, b = b, a
    return any(b[:i] + b[i + 1:] == a for i in range(len(b)))


class CorpusWorkload:
    name = "corpus_mixed"

    def __init__(self, spark, sf_dir: str, artifacts_dir: str, seed: int):
        self.spark, self.sf_dir = spark, sf_dir
        self.store_dir = artifacts_dir
        self.rng = np.random.default_rng([seed, 4])
        docs, _embs = corpus_frames(seed)
        self.docs = {int(i): t.split(" ") for i, t in zip(docs["doc_id"], docs["text"])}
        self.langs = dict(zip(docs["doc_id"].tolist(), docs["lang"]))
        self.vocab = sorted({t for toks in self.docs.values() for t in toks})
        # head: the base words; middle: their replica renames; tail: the
        # rare word and its renames (see inputs.corpus_frames)
        self.head = [t for t in self.vocab if t in WORDS]
        self.tail = [t for t in self.vocab if t.split("_")[0] == RARE]
        self.middle = [t for t in self.vocab if t not in self.head and t not in self.tail]
        self.input_bytes = sum(os.path.getsize(os.path.join(r, f))
                               for r, _d, fs in os.walk(sf_dir) for f in fs)
        self._ids = 0
        self.pools = {k: [self._params(k, i) for i in range(2)] for k in POOLED}
        self.expected: dict = {}

    def _pick(self, band: list[str]) -> str:
        return band[int(self.rng.integers(0, len(band)))]

    def _params(self, kind: str, i: int = 0) -> dict:
        """Seeded arguments; ``i`` picks the n_probe (ann) or the keyword's
        band (hybrid) of pool entry i."""
        rng = self.rng
        if kind == "bm25":
            return {"terms": (self._pick(self.head), self._pick(self.middle),
                              self._pick(self.tail)), "k": int(rng.choice([5, 10, 20]))}
        if kind == "indexed":
            return {"terms": (self._pick(self.head), self._pick(self.middle))}
        if kind == "phrase":
            toks = self.docs[int(rng.integers(0, N_DOCS))]
            i = int(rng.integers(0, len(toks) - 1))
            return {"phrase": (toks[i], toks[i + 1])}
        if kind == "fuzzy":
            word = self._pick(self.middle)
            i = int(rng.integers(0, len(word)))
            typo = word[:i] + ("q" if word[i] != "q" else "x") + word[i + 1:]
            return {"term": typo}
        if kind == "rag":
            return {"terms": (self._pick(self.head), self._pick(self.middle)),
                    "k": int(rng.choice([3, 5]))}
        if kind == "ann":
            return {"k": int(rng.choice([5, 10])), "n_probe": (2, 4)[i]}
        return {"keyword": self._pick((self.head, self.middle)[i]), "k": int(rng.choice([5, 10]))}

    def _request(self, kind: str, params: dict | None = None) -> dict:
        self._ids += 1
        if kind.startswith("search."):
            sk = kind.split(".", 1)[1]
            if params is None:
                params = self._params(sk)
            cls, spark_kind, rows = "read", "search", 0
        elif kind.startswith("ingest."):
            cls, spark_kind, rows = "write", "ingest", 0
        else:
            cls, spark_kind, rows = "heavy", "curate", N_DOCS
        return {"id": self._ids, "kind": kind, "cls": cls, "spark_kind": spark_kind,
                "params": params or {}, "rows": rows}

    def warmup(self) -> list[dict]:
        reqs = [self._request(f"search.{k}") for k in SEARCH_KINDS if k not in POOLED]
        reqs += [self._request(f"search.{k}", p) for k in POOLED for p in self.pools[k]]
        reqs += [self._request("ingest.vectors"), self._request("ingest.tokens")]
        return reqs

    def cycle(self) -> list[dict]:
        return ([self._request(f"search.{k}", self.pools[k][i] if k in POOLED else None)
                 for i in range(2) for k in SEARCH_KINDS]
                + [self._request("ingest.vectors"), self._request("ingest.tokens"),
                   self._request("curate")])

    # -- execution --------------------------------------------------------
    def execute(self, req: dict):
        from kstore_spark.functions import corpus, pipeline, similarity, text
        from kstore_spark.streaming import indexing

        spark, sf, p, kind = self.spark, self.sf_dir, req["params"], req["kind"]
        if kind == "curate":
            frame = pipeline.curate_survivors(spark, sf)
            try:
                return [tuple(r) for r in frame.collect()]
            finally:
                frame.unpersist()
        if kind == "ingest.vectors":
            return value_hash(indexing.stream_vector_assignments(spark, sf).collect())
        if kind == "ingest.tokens":
            return value_hash(indexing.stream_token_postings(spark, sf).collect())
        sk = kind.split(".", 1)[1]
        if sk == "bm25":
            df = text.text_search_bm25(spark, sf, terms=p["terms"], k=p["k"])
        elif sk == "indexed":
            df = text.text_search_indexed(spark, sf, terms=p["terms"])
        elif sk == "phrase":
            df = text.text_search_phrase(spark, sf, phrase=p["phrase"])
        elif sk == "fuzzy":
            df = text.text_search_fuzzy(spark, sf, term=p["term"])
        elif sk == "rag":
            df = corpus.rag_context_indexed(spark, sf, terms=p["terms"], k=p["k"])
        elif sk == "ann":
            df = similarity.sim_ann_ivf_pq_stored(spark, sf, k=p["k"], n_probe=p["n_probe"])
        else:
            df = similarity.hybrid_search(spark, sf, keyword=p["keyword"], k=p["k"])
        return [tuple(r) for r in df.collect()]

    def setup(self, run_timed) -> None:
        """Warm every request kind. Builds that share an index run in one
        thread, in order; independent chains run side by side."""
        reqs = self.warmup()
        chains = [[r for r in reqs if r["kind"] in kinds] for kinds in (
            ("search.bm25", "search.indexed", "search.phrase"), ("search.fuzzy",),
            ("search.rag",), ("search.ann", "search.hybrid"),
            ("ingest.vectors", "ingest.tokens"))]
        with ThreadPoolExecutor(len(chains)) as pool:
            futures = [pool.submit(lambda c=c: [run_timed(r) for r in c]) for c in chains]
            done = [r for f in futures for r in f.result()]
        for rec in done:
            if rec.get("error") is None:
                self.expected[self._key(rec)] = rec["out"]
        self.warm_records = done

    @staticmethod
    def _key(rec: dict):
        return rec["kind"], repr(sorted(rec["params"].items()))

    def close(self) -> None:
        pass

    # -- checks ------------------------------------------------------------
    def _oracle(self, kind: str, p: dict, con):
        from kstore_spark.functions import text

        if kind == "search.bm25":
            return [tuple(r) for r in con.execute(text._bm25_sql(p["terms"], p["k"])).fetchall()]
        if kind == "search.indexed":
            out = []
            for d, toks in self.docs.items():
                c = Counter(toks)
                if all(c[t] for t in p["terms"]):
                    out.append((d, sum(c[t] for t in p["terms"])))
            return out
        if kind == "search.phrase":
            a, b = p["phrase"]
            out = []
            for d, toks in self.docs.items():
                n = sum(1 for i in range(len(toks) - 1) if toks[i] == a and toks[i + 1] == b)
                if n:
                    out.append((d, n))
            return out
        if kind == "search.fuzzy":
            near = {t for t in self.vocab if levenshtein1(t, p["term"])}
            out = []
            for d, toks in self.docs.items():
                n = sum(1 for t in toks if t in near)
                if n:
                    out.append((d, n))
            return out
        return None

    def check(self, records: list[dict]) -> dict[int, str]:
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.sf_dir, 'documents.parquet', '*.parquet')}')")
        bad: dict[int, str] = {}
        for rec in records:
            if rec.get("error") is not None:
                continue
            if rec["kind"] == "curate":
                problem = self._curate_problem(rec["out"])
                if problem:
                    bad[rec["id"]] = f"curate: {problem}"
                continue
            want = self._oracle(rec["kind"], rec["params"], con)
            src = "oracle"
            if want is None:
                want, src = self.expected.get(self._key(rec)), "set-up result"
            got = rec["out"]
            if isinstance(got, list) and isinstance(want, list):  # row order is not part of it
                got, want = sorted(got, key=repr), sorted(want, key=repr)
            if got != want:
                bad[rec["id"]] = (f"{rec['kind']} {rec['params']}: differs from the {src} "
                                  f"({str(got)[:120]} vs {str(want)[:120]})")
        con.close()
        return bad

    def _curate_problem(self, rows) -> str | None:
        from kstore_spark.functions.sampling import PACK_SHARDS

        ids = [r[3] for r in rows]
        if not rows:
            return "no survivors"
        if len(set(ids)) != len(ids):
            return "duplicate doc ids"
        for split, shard, _batch, doc_id, lang, n_tokens, text in rows:
            if doc_id not in self.langs or lang != self.langs[doc_id]:
                return f"doc {doc_id}: unknown id or lang {lang!r}"
            if n_tokens != len(text.split(" ")) or shard != doc_id % PACK_SHARDS:
                return f"doc {doc_id}: n_tokens or shard inconsistent"
        return None

    def storage_amp(self) -> float:
        """Bytes of the built indexes per byte of input."""
        return dir_bytes(self.store_dir) / self.input_bytes

    def catalog_state(self) -> dict:
        return {}
