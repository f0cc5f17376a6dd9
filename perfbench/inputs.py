"""Seeded benchmark inputs, cached on disk by seed and size.

Every input the program receives is generated here from the run's
``--seed``: the source corpus (``bright_spark.fixtures`` rows), the
search query stream, the ingest write batches and the curation corpus
with its planted duplicates. Generation is the benchmark's own work, so
it runs before any timed phase and its result is cached under the
checkout's ``.perfbench_cache/`` directory, keyed by seed and size.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import re
import subprocess
import sys

import numpy as np
import pandas as pd

# corpus sizes (files); see README.md for how they were chosen
SEARCH_FILES = 1000
INGEST_FILES = 600
CURATE_DOCS = 600

# curate planting
N_EXACT_COPIES = 40
N_NEAR_COPIES = 40
N_PROBES = 20
N_JUNK_PROBES = 10
EMBED_DIM = 64
N_VECTORS = 600
N_NEAR_VECTORS = 40

# one fresh request of each kind per block, plus repeats of earlier
# requests; the timed phase ends on a block boundary, so every run
# sends the same mix whatever its length
KINDS = ("hot", "mid", "rare", "or", "and", "not", "wildcard", "fuzzy",
         "phrase", "lang", "needle", "zero")
REPEATS = 3
BLOCK_LEN = len(KINDS) + REPEATS
QUERY_STREAM_LEN = 40 * BLOCK_LEN

# one ingest write batch: edits of live files, new files, deletions
N_EDIT, N_NEW, N_DELETE = 12, 4, 4
WARMUP_KINDS = ("hot", "or", "wildcard", "fuzzy", "phrase", "lang")

_WORD = re.compile(r"^[a-z][a-z0-9_]{2,}$")
_SRC_WORD = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _atomic_write(path: str, write) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    write(tmp)
    os.replace(tmp, path)


def generate_rows(seed: int, n: int, workers: int, tmp: str) -> list[dict]:
    """``fixtures.make_repo_row`` for rows [0, n), split over ``workers``
    child processes (the rows are independent of one another), each
    writing its slice to a parquet file under ``tmp``."""
    step = -(-n // workers)
    procs, parts = [], []
    for lo in range(0, n, step):
        out = os.path.join(tmp, f"rows-{seed}-{lo}.parquet")
        parts.append(out)
        procs.append(subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(seed), str(lo),
             str(min(n, lo + step)), out]))
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"row generation failed: exit codes {codes}")
    rows = [r for out in parts for r in pd.read_parquet(out).to_dict("records")]
    for out in parts:
        os.remove(out)
    return rows


class Inputs:
    """Cached, seeded inputs for one run."""

    def __init__(self, cache_dir: str, seed: int, workers: int, tmp: str):
        from bright_spark import fixtures
        self.cache_dir = cache_dir
        self.seed = seed
        self.workers = workers
        self.tmp = tmp
        os.makedirs(cache_dir, exist_ok=True)
        # cached inputs are only valid for the generators that made them
        h = hashlib.sha256()
        for src in (__file__, fixtures.__file__):
            with open(src, "rb") as f:
                h.update(f.read())
        self.version = h.hexdigest()[:12]

    def path(self, name: str) -> str:
        return os.path.join(self.cache_dir, f"{self.version}-{name}")

    # ------------------------------------------------------ corpora

    def repos_corpus(self, n: int, salt: str) -> str:
        """Parquet of ``n`` generated repo files, columns
        (file_id, repo, path, commit, lang, content)."""
        p = self.path(f"repos-{salt}-s{self.seed}-n{n}.parquet")
        if not os.path.exists(p):
            rows = generate_rows(self._subseed(salt), n, self.workers, self.tmp)
            pdf = pd.DataFrame(rows)
            pdf.insert(0, "file_id", np.arange(n, dtype=np.int64))
            _atomic_write(p, lambda t: pdf.to_parquet(t, index=False))
        return p

    def _subseed(self, salt: str) -> int:
        return random.Random(f"{self.seed}:{salt}").randrange(1 << 30)

    # ------------------------------------------------ search queries

    def search_queries(self, n_files: int, terms: dict[str, int],
                       sample_texts: list[str], langs: list[str]) -> list[dict]:
        """The seeded request stream for the ``search`` workload, drawn
        from the built term dictionary ``terms`` (term -> df)."""
        p = self.path(f"queries-s{self.seed}-n{n_files}.json")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        stream = make_query_stream(random.Random(f"{self.seed}:queries"),
                                   terms, n_files, sample_texts, langs,
                                   QUERY_STREAM_LEN)
        _atomic_write(p, lambda t: _dump_json(t, stream))
        return stream

    def search_warmup(self, terms: dict[str, int], sample_texts: list[str],
                      langs: list[str]) -> list[dict]:
        """One request of each of ``WARMUP_KINDS`` (both physical paths)
        from the same generator under another seed: sent untimed before
        the timed phase."""
        block = make_query_stream(random.Random(f"{self.seed}:warmup"), terms,
                                  SEARCH_FILES, sample_texts, langs, BLOCK_LEN)
        return list({r["kind"]: r for r in block
                     if r["kind"] in WARMUP_KINDS}.values())

    # ------------------------------------------------- ingest batches

    def ingest_batch(self, cycle: int, live: list[int],
                     next_id: int) -> tuple[list[dict], list[int]]:
        """One write batch: ``N_EDIT`` edits of live files, ``N_NEW`` new
        files and ``N_DELETE`` deletions of other live files. Every
        upserted file carries the batch's unique token ``batch_token``.
        Deterministic in (seed, cycle, live set)."""
        from bright_spark.fixtures import make_repo_row
        rng = random.Random(f"{self.seed}:ingest:{cycle}")
        picked = rng.sample(live, N_EDIT + N_DELETE)
        edits, deletes = picked[:N_EDIT], sorted(picked[N_EDIT:])
        token = batch_token(self.seed, cycle)
        gen_seed = self._subseed(f"ingest-edit-{cycle}")
        rows = []
        for fid in edits + list(range(next_id, next_id + N_NEW)):
            r = make_repo_row(gen_seed, fid)
            r["content"] += f"\n{token} = {token}_v{cycle}()"
            r["file_id"] = fid
            rows.append(r)
        return rows, deletes

    def ingest_queries(self, terms: dict[str, int], n_files: int) -> list[str]:
        """Term and boolean queries for the fresh searches of the
        ``ingest_search`` workload (no attribute scopes: the REST index
        stores no ``lang`` column)."""
        rng = random.Random(f"{self.seed}:ingest-queries")
        bands = df_bands(terms, n_files)
        out = []
        for _ in range(200):
            kind = rng.choice(["hot", "mid", "rare", "or", "and"])
            if kind in ("hot", "mid", "rare"):
                out.append(rng.choice(bands[kind]))
            elif kind == "or":
                out.append(" ".join(rng.choice(bands[rng.choice(
                    ["hot", "mid", "rare"])]) for _ in range(2)))
            else:
                out.append(f"+{rng.choice(bands['hot'])} "
                           f"+{rng.choice(bands['mid'])}")
        return out

    # ------------------------------------------------------- curate

    def curate_inputs(self) -> dict:
        """Text corpus with planted exact and near copies, decontamination
        probes, and 64-d embeddings with planted near neighbours."""
        p = self.path(f"curate-s{self.seed}-n{CURATE_DOCS}.json")
        docs_p = self.path(f"curate-docs-s{self.seed}-n{CURATE_DOCS}.parquet")
        vec_p = self.path(f"curate-vecs-s{self.seed}-n{CURATE_DOCS}.parquet")
        probes_p = self.path(f"curate-probes-s{self.seed}-n{CURATE_DOCS}.parquet")
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        rng = random.Random(f"{self.seed}:curate")
        rows = generate_rows(self._subseed("curate"), CURATE_DOCS, self.workers,
                             self.tmp)
        texts = [r["content"] for r in rows]
        ids = list(range(CURATE_DOCS))
        originals = rng.sample(ids, N_EXACT_COPIES + N_NEAR_COPIES + N_PROBES)
        exact_src = originals[:N_EXACT_COPIES]
        near_src = originals[N_EXACT_COPIES:N_EXACT_COPIES + N_NEAR_COPIES]
        probe_src = originals[N_EXACT_COPIES + N_NEAR_COPIES:]
        exact_pairs, near_pairs = [], []
        for src in exact_src:
            exact_pairs.append([src, len(texts)])
            texts.append(texts[src])
        for src in near_src:
            near_pairs.append([src, len(texts)])
            texts.append(near_copy(rng, texts[src]))
        docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype=np.int64),
                             "text": texts})
        probes, probe_pairs = [], []
        for k, src in enumerate(probe_src):
            words = texts[src].split()
            start = rng.randrange(max(1, len(words) - 40))
            probes.append(" ".join(words[start:start + 40]))
            probe_pairs.append([k, src])
        for _ in range(N_JUNK_PROBES):
            probes.append(" ".join(f"zq{rng.randrange(10**9)}" for _ in range(20)))
        probes_df = pd.DataFrame({"doc_id": np.arange(len(probes), dtype=np.int64),
                                  "text": probes})
        vrng = np.random.default_rng(self._subseed("vectors"))
        vecs = vrng.standard_normal((N_VECTORS, EMBED_DIM))
        near_vec_src = vrng.choice(N_VECTORS, N_NEAR_VECTORS, replace=False)
        # perturbation far below one LSH hyperplane's angular resolution:
        # a planted neighbour always shares its source's signature bucket
        extra = vecs[near_vec_src] + 1e-9 * vrng.standard_normal(
            (N_NEAR_VECTORS, EMBED_DIM))
        all_vecs = np.vstack([vecs, extra])
        vec_pairs = [[int(s), N_VECTORS + i] for i, s in enumerate(near_vec_src)]
        vec_df = pd.DataFrame({"vec_id": np.arange(len(all_vecs), dtype=np.int64),
                               "embedding": [list(map(float, v)) for v in all_vecs]})
        _atomic_write(docs_p, lambda t: docs.to_parquet(t, index=False))
        _atomic_write(probes_p, lambda t: probes_df.to_parquet(t, index=False))
        _atomic_write(vec_p, lambda t: vec_df.to_parquet(t, index=False))
        meta = {"docs": docs_p, "probes": probes_p, "vectors": vec_p,
                "n_docs": len(texts), "n_vectors": len(all_vecs),
                "exact_pairs": exact_pairs, "near_pairs": near_pairs,
                "probe_pairs": probe_pairs, "vec_pairs": vec_pairs,
                "text_bytes": int(sum(len(t.encode()) for t in texts))}
        _atomic_write(p, lambda t: _dump_json(t, meta))
        return meta


def _dump_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


def batch_token(seed: int, cycle: int) -> str:
    return f"ingestbatch{seed}x{cycle}tok"


def near_copy(rng: random.Random, text: str) -> str:
    """Replace one line in ~150 with a fresh line: shingle Jaccard stays
    far above the 0.7 verify threshold."""
    lines = text.split("\n")
    for i in rng.sample(range(len(lines)), max(1, len(lines) // 150)):
        lines[i] = f"    edited_line_{rng.randrange(10**9)} = None"
    return "\n".join(lines)


def df_bands(terms: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Word-like dictionary terms split by document frequency."""
    words = [(t, df) for t, df in terms.items() if _WORD.match(t)]
    bands = {
        "hot": [t for t, df in words if df >= n_docs // 2],
        "mid": [t for t, df in words if n_docs // 100 <= df < n_docs // 5],
        "rare": [t for t, df in words if 2 <= df <= 5],
    }
    for k, v in bands.items():
        if not v:
            raise ValueError(f"empty {k} df band in the term dictionary")
        v.sort()
    return bands


def _prefix_pattern(rng: random.Random, term: str,
                    sorted_terms: list[str]) -> str | None:
    """``prefix*`` over ``term`` expanding to 2..200 dictionary terms
    (well under the planner's 1024-expansion cap)."""
    for n in range(len(term) - 1, 2, -1):
        pre = term[:n]
        lo = bisect.bisect_left(sorted_terms, pre)
        hi = bisect.bisect_left(sorted_terms, pre + "￿")
        if 2 <= hi - lo <= 200:
            return pre + "*"
    return None


def make_query_stream(rng: random.Random, terms: dict[str, int],
                      n_docs: int, sample_texts: list[str],
                      langs: list[str], length: int) -> list[dict]:
    """Seeded request mix: single terms by df band, OR / AND / NOT,
    prefix wildcard, ``~1`` fuzzy, phrases from real adjacent words,
    ``lang:`` scoped, planted needles, zero-hit. Built in shuffled
    blocks of ``BLOCK_LEN``: one fresh request of each kind (one of them
    for page 2) and ``REPEATS`` repeats of earlier requests."""
    from bright_spark.fixtures import NEEDLES
    bands = df_bands(terms, n_docs)
    sorted_terms = sorted(terms)
    fuzzy_pool = [w for w in bands["rare"] if len(w) >= 6]

    def pick(band: str) -> str:
        return rng.choice(bands[band])

    def fresh(kind: str) -> str:
        if kind in ("hot", "mid", "rare"):
            return pick(kind)
        if kind == "or":
            return " ".join(pick(rng.choice(["hot", "mid", "rare"]))
                            for _ in range(rng.choice([2, 3])))
        if kind == "and":
            return " ".join(f"+{pick(rng.choice(['hot', 'mid']))}"
                            for _ in range(rng.choice([2, 3])))
        if kind == "not":
            return f"{pick('mid')} -{pick('mid')}"
        if kind == "wildcard":
            while True:
                q = _prefix_pattern(rng, pick(rng.choice(["mid", "rare"])),
                                    sorted_terms)
                if q:
                    return q
        if kind == "fuzzy":
            t = rng.choice(fuzzy_pool)
            i = rng.randrange(1, len(t))
            return t[:i] + rng.choice("abcdefghijklmnopqrstuvwxyz") + t[i + 1:] + "~1"
        if kind == "phrase":
            return _phrase(rng, sample_texts)
        if kind == "lang":
            return f"lang:{rng.choice(langs)} {pick(rng.choice(['mid', 'rare']))}"
        if kind == "needle":
            return rng.choice(NEEDLES)[0]
        return "zq" + "".join(rng.choice("bcdfghjklmnpqrstvwxz") for _ in range(10))

    stream: list[dict] = []
    while len(stream) < length:
        page2 = rng.randrange(len(KINDS))
        slots = [{"q": fresh(k), "kind": k, "offset": 10 if i == page2 else 0,
                  "limit": 10} for i, k in enumerate(KINDS)] + [None] * REPEATS
        rng.shuffle(slots)
        fresh_reqs = [r for r in slots if r is not None]
        for req in slots:
            # a repeat in the very first block can only repeat its own
            # fresh requests
            stream.append(dict(rng.choice(stream or fresh_reqs))
                          if req is None else req)
    return stream[:length]


def _phrase(rng: random.Random, texts: list[str]) -> str:
    while True:
        lines = rng.choice(texts).split("\n")
        words = rng.choice(lines).split()
        pairs = [(a, b) for a, b in zip(words, words[1:])
                 if _SRC_WORD.match(a) and _SRC_WORD.match(b)]
        if pairs:
            a, b = rng.choice(pairs)
            return f'"{a} {b}"'


if __name__ == "__main__":
    # child of generate_rows: <seed> <lo> <hi> <out.parquet>
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bright_spark.fixtures import make_repo_row
    _seed, _lo, _hi = (int(a) for a in sys.argv[1:4])
    pd.DataFrame([make_repo_row(_seed, i) for i in range(_lo, _hi)]
                 ).to_parquet(sys.argv[4], index=False)
