"""SearchEngine — the read path, end to end (SURVEY.md §3.1).

Reference lifecycle: param parse -> Bleve query AST -> searcher tree ->
TopNCollector -> hit post-processing (`handlers/search.go:16-177`).
Spark lifecycle here:

  SearchRequest -> parser (pure Python AST) -> Planner (maps clauses to
  postings/term_stats/docs structures) -> one of two physical plans:

  * ``wand``       (default for scored term/bool queries): postings of
    the query terms -> per-range block-max kernel
    (:func:`scorer.score_range_topk`: exact per-range top-k + exact
    match count) -> one driver merge (:func:`merge_topk`: exact total
    and the ``(-score, doc_id)`` top-k) -> hit assembly from the
    touched docs groups. Term dfs (for the weights) are read with
    pyarrow and cached on every path. The steps run on one of two
    executors:

    - *driver* (``search()`` when the posting files of the query's
      term buckets total under :data:`DRIVER_READ_MAX_BYTES`, decided
      from file sizes before any read): postings and docs are read
      with pyarrow, the kernel runs in-process once per range — zero
      Spark jobs. This mirrors ``index/fastpath.py`` for
      writes: at this size a job buys no parallelism and its
      scheduling is most of the request.
    - *Spark* (above the threshold, ``search_df``, and every index the
      driver reader does not cover): a partition-pruned postings scan
      grouped by range_id into ``applyInPandas`` (the same kernel);
      its output, at most ranges x k rows, is collected once into the
      same merge; assembly is a group-pruned docs scan.

    Fallbacks to Spark are decided before anything is read: v3 layouts
    (string manifest entries, or no ``docs_range_bits``), and docs
    schemas with a column type whose pyarrow value differs from
    Spark's ``Row.asDict()`` value (timestamp, map, struct, decimal,
    binary, ...; see ``_DRIVER_DOC_TYPES``).
  * ``relational`` (filters, phrases, custom sorts, and the permanent
    differential-testing path): decode postings to an exploded
    (term, doc_id, tf, dl) view -> broadcast-join per-term weights ->
    groupBy(doc_id) score sum + must-group counting -> docs-predicate
    semi-joins -> orderBy/limit. Catalyst handles pushdown/pruning;
    every step is built-in DataFrame ops except the vectorized varint
    decode.
  * ``phrase`` (positive and NOT phrases, inside ``relational``): on a
    positional index (``store_positions``) one kernel,
    :func:`scorer.score_range_phrase`, does candidates, adjacency and
    scoring per range over one partition-pruned postings scan
    (``_phrase_hits``); otherwise the AND-candidates are re-verified
    by re-tokenizing their content (``_verify_phrases``).

At 10^12-doc scale the wand path touches only the posting rows of the
query's terms (bucket-pruned directories, term-sorted row groups), and
its single shuffle is the applyInPandas grouping of ~terms x ranges
rows — there is no docs-table scan unless fields are requested.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from functools import cached_property
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bright_spark.index.catalog import DOCS_BUILD_COLS, PART_TABLES, IndexCatalog
from bright_spark.models import SearchRequest, SearchRequestError, SearchResponse
from bright_spark.query import scorer
from bright_spark.query.parser import parse_query
from bright_spark.query.planner import AnalyzedQuery, AttrPred, Planner

_KERNEL_SCHEMA = "doc_id BIGINT, score DOUBLE, range_id BIGINT, range_matched BIGINT"
_KERNEL_COLS = ["doc_id", "score", "range_id", "range_matched"]
_MATCH_SCHEMA = "doc_id BIGINT, score DOUBLE"

# (field, term) -> one flat kernel key. \x1f (ASCII unit separator) is
# never produced by either tokenizer mode's emissions in practice; the
# key only has to be unambiguous per query, not globally escaped.
FIELD_SEP = "\x1f"

# A WAND search() whose query-term posting files total under this many
# bytes runs on the driver executor (module docstring); at or above it
# the Spark plan runs. Set with scripts/measure_driver_read.py:
# make_repos_spark corpora of 2,000 to 96,000 files, 8 term buckets,
# local[4] on a 4-core host, OR queries of the 1 to 64 highest-df
# terms, 80 requests. The driver was faster in all 61 under
# 117 MB of bucket files (closest: 105 MB, 64 terms, 477-484 ms against
# 513-604 ms); at 125 MB the 64-term query went either way (591 and
# 618 ms against 483 and 641 ms), and from 150 MB Spark won it. The
# driver's RSS rose by at most 81 MB, so latency, not memory, sets it.
DRIVER_READ_MAX_BYTES = 112 << 20

# posting columns the WAND kernel reads (positions never)
_WAND_COLS = ["field", "term", "range_id", "df_chunk", "first_doc",
              "max_doc", "n", "max_tf", "min_dl", "docs", "tfs", "dls",
              "ver"]

# docs column types (Spark simpleString, also as array elements) whose
# pyarrow ``to_pylist`` values equal Spark's ``Row.asDict`` values;
# any other type sends the request to the Spark executor
_DRIVER_DOC_TYPES = frozenset(
    {"string", "bigint", "int", "smallint", "tinyint", "boolean", "double"})


def fkey(field: str, term: str) -> str:
    return f"{field}{FIELD_SEP}{term}"


def _ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """(name, type) per top-level column of a simpleString DDL."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            name, _, typ = ddl[start:i].strip().partition(" ")
            cols.append((name, typ.strip()))
            start = i + 1
    return cols


def _driver_type(typ: str) -> bool:
    while typ.startswith("array<") and typ.endswith(">"):
        typ = typ[len("array<"):-1]
    return typ in _DRIVER_DOC_TYPES


def merge_topk(rows: pd.DataFrame, k: int) -> tuple[int, list[tuple[int, float]]]:
    """The one merge of per-range kernel rows (``_KERNEL_COLS``), for
    both executors: exact total (each range's match count, once) and
    the ``(-score, doc_id)`` top-k."""
    total = int(rows.drop_duplicates("range_id")["range_matched"].sum())
    docs = rows["doc_id"].to_numpy(np.int64)
    scores = rows["score"].to_numpy(np.float64)
    top = np.lexsort((docs, -scores))[:k]
    return total, [(int(docs[i]), float(scores[i])) for i in top]


class _WandSpec(NamedTuple):
    """Everything the per-range kernel needs beyond the posting rows."""
    weights: dict[str, float]
    avgdls: dict[str, float]
    must_groups: list[list[str]]
    should: list[str]
    must_not: list[str]
    needed: list[tuple[str, str]]  # (field, term) pairs to fetch


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str,
                 snapshot_id: int | None = None,
                 max_expansions: int | None = None,
                 on_overflow: str = "error"):
        self.spark = spark
        self.catalog = IndexCatalog(index_dir, snapshot_id=snapshot_id)
        # pin every read of this engine to one snapshot: queries are
        # immune to concurrent mutation commits (the poll-loop ingestor
        # commits while searches run), and ``snapshot_id`` time-travels
        # to any retained snapshot
        self.snapshot_id = self.catalog.pin()
        self.planner = Planner(spark, self.catalog,
                               max_expansions=max_expansions,
                               on_overflow=on_overflow)
        self.meta = self.planner.meta
        self.extra = self.planner.extra
        self._df_cache: dict[tuple[str, str], int] = {}
        self._tomb_lock = threading.Lock()
        self._tomb: tuple | None = None  # (broadcast or None,) once made

    def _spark_tomb(self):
        """Getter, for use inside a Spark task, of the pinned snapshot's
        append-mode tombstones (None when there are none): every decode
        kernel masks dead entries with them. They are broadcast once per
        engine, the first time a Spark kernel needs them; the lock keeps
        concurrent first requests (IndexStore serves from threads) from
        broadcasting twice. The driver executor reads
        ``catalog.tombstones()``."""
        with self._tomb_lock:
            if self._tomb is None:
                tomb = self.catalog.tombstones()
                self._tomb = (self.spark.sparkContext.broadcast(tomb)
                              if tomb is not None else None,)
            bc = self._tomb[0]
        return lambda: bc.value if bc is not None else None

    @cached_property
    def _driver_doc_cols(self) -> list[str] | None:
        """Docs columns the driver executor returns (the Spark docs
        frame's columns), or None when this snapshot needs the Spark
        executor: a v3 layout, or a docs type pyarrow would return
        differently (``_DRIVER_DOC_TYPES``)."""
        tables = self.catalog.manifest()["tables"]
        if (int(self.meta.get("version") or 0) < 4
                or self.meta.get("docs_range_bits") is None
                or not self.meta.get("docs_schema")
                or not all(isinstance(tables.get(t), dict)
                           for t in PART_TABLES)):
            return None
        cols = [(n, t) for n, t in _ddl_columns(self.meta["docs_schema"])
                if n not in DOCS_BUILD_COLS]
        if not all(_driver_type(t) for _, t in cols):
            return None
        return [n for n, _ in cols]

    def _use_driver(self, aq: AnalyzedQuery) -> bool:
        """Driver executor for this WAND request? Decided from the
        snapshot's layout and file sizes, before any read."""
        if self._driver_doc_cols is None:
            return False
        pairs = {s.key for s in aq.scoring_terms} | set(aq.must_not_terms)
        files = self.catalog.part_files("postings",
                                        self.catalog.term_buckets(pairs))
        return sum(map(os.path.getsize, files)) < DRIVER_READ_MAX_BYTES

    # ----------------------------------------------------------- utils

    def _field_avgdl(self, field: str) -> float:
        fs = self.meta.get("field_stats") or {}
        return float(fs.get(field, {}).get("avgdl", self.meta["avgdl"]))

    def _term_dfs(self, pairs: list[tuple[str, str]]
                  ) -> dict[tuple[str, str], int]:
        """df per (field, term), via a driver-side dictionary cache (the
        hot term-dictionary an engine keeps resident; absent terms cache
        as 0 so repeated misses don't re-scan). The fetch itself is the
        bucket-pruned term_stats lookup, read in-process with pyarrow
        for every path and layout."""
        missing = [p for p in pairs if p not in self._df_cache]
        if missing:
            got = self.catalog.term_dfs_local(missing)
            for p in missing:
                self._df_cache[p] = got.get(p, 0)
        return {p: self._df_cache[p] for p in pairs}

    def _term_weights(self, aq: AnalyzedQuery
                      ) -> tuple[dict[str, float], dict[str, float]]:
        """(boost * idf, field avgdl) per scoring term, both keyed by
        the flat kernel key (driver-side: k small rows)."""
        specs = aq.scoring_terms
        if not specs:
            return {}, {}
        dfs = self._term_dfs([s.key for s in specs])
        n = int(self.meta["n_docs"])
        w, adl = {}, {}
        for s in specs:
            df = dfs.get(s.key, 0)
            if df > 0:
                k = fkey(s.field, s.term)
                w[k] = s.boost * float(scorer.idf(n, df))
                adl[k] = self._field_avgdl(s.field)
        return w, adl

    def _attr_filter(self, preds: list[AttrPred]):
        cond = None
        for p in preds:
            col = F.col(p.column)
            if p.op == "=":
                c = col.cast("string") == p.value
            elif p.op == ">":
                c = col > p.value
            elif p.op == ">=":
                c = col >= p.value
            elif p.op == "<":
                c = col < p.value
            elif p.op == "<=":
                c = col <= p.value
            elif p.op == "between":
                c = (col >= p.value) & (col <= p.hi)
            elif p.op == "like":
                c = col.cast("string").like(p.value)
            else:
                raise ValueError(f"bad attr op {p.op}")
            if p.negated:
                c = ~c
            cond = c if cond is None else (cond & c)
        return cond

    # ------------------------------------------------------- wand path

    def _wand_spec(self, aq: AnalyzedQuery) -> _WandSpec | None:
        """Kernel inputs of a WAND or phrase request (phrase tokens are
        scoring terms), or None when it can match
        nothing: no scoring term is in the index, or a must group is
        unsatisfiable (every member has df=0, Q6)."""
        weights, avgdls = self._term_weights(aq)
        must_groups = [[fkey(s.field, s.term) for s in g
                        if fkey(s.field, s.term) in weights]
                       for g in aq.must_groups]
        if not weights or any(not g for g in must_groups):
            return None
        should = [fkey(s.field, s.term) for s in aq.should_terms
                  if fkey(s.field, s.term) in weights]
        must_not_pairs = sorted(set(aq.must_not_terms))
        scoring_pairs = {s.key for s in aq.scoring_terms
                         if fkey(*s.key) in weights}
        return _WandSpec(weights, avgdls, must_groups, should,
                         [fkey(f, t) for f, t in must_not_pairs],
                         sorted(scoring_pairs | set(must_not_pairs)))

    def _range_kernel(self, spec: _WandSpec, k: int, prune: bool,
                      need_total: bool, tomb_of):
        """The per-range kernel both executors run: (key, posting rows
        of one range_id) -> ``_KERNEL_COLS`` rows. ``tomb_of()`` yields
        the tombstones where the kernel runs."""
        weights, avgdls, must_groups, should, must_not, _ = spec
        avgdl = float(self.meta["avgdl"])
        k1 = float(self.meta["k1"])
        b = float(self.meta["b"])

        def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            docs, scores, n_matched = scorer.score_range_topk(
                pdf, weights, must_groups, should, must_not,
                k=k, avgdl=avgdl, k1=k1, b=b, prune=prune,
                need_total=need_total, avgdl_by_term=avgdls,
                tomb=tomb_of())
            return pd.DataFrame({
                "doc_id": docs, "score": scores,
                "range_id": np.full(docs.size, int(key[0]), dtype=np.int64),
                "range_matched": np.full(docs.size, n_matched, dtype=np.int64),
            })

        return kernel

    def _spark_ranges(self, pairs: list[tuple[str, str]], kernel,
                      schema: str, positions: bool = False) -> DataFrame:
        """Spark per-range plumbing of the WAND and phrase kernels: the
        partition-pruned postings of ``pairs`` (``pos`` kept only for a
        positional kernel), terms keyed by :func:`fkey`, grouped by
        range_id into ``kernel``."""
        rows = self.catalog.postings_for_terms(self.spark, pairs)
        if not positions:
            rows = rows.drop("pos")
        rows = (rows.withColumn("term",
                                F.concat_ws(FIELD_SEP, "field", "term"))
                .drop("field"))
        return rows.groupBy("range_id").applyInPandas(kernel, schema)

    def _wand_hits(self, aq: AnalyzedQuery, k: int, prune: bool = True,
                   need_total: bool = True) -> DataFrame:
        """Spark executor: per-range kernel -> (doc_id, score,
        range_id, range_matched). ``need_total=False`` lets the pruned
        kernel skip the exact match count (range_matched = -1) — top-k
        only callers."""
        spec = self._wand_spec(aq)
        if spec is None:
            return self.spark.createDataFrame([], _KERNEL_SCHEMA)
        kernel = self._range_kernel(spec, k, prune, need_total,
                                    self._spark_tomb())
        return self._spark_ranges(spec.needed, kernel, _KERNEL_SCHEMA)

    def _wand_rows_local(self, aq: AnalyzedQuery, k: int) -> pd.DataFrame:
        """Driver executor: the same kernel over pyarrow-read posting
        rows, once per range_id, in-process."""
        spec = self._wand_spec(aq)
        if spec is None:
            return pd.DataFrame(columns=_KERNEL_COLS)
        pdf = self.catalog.read_pairs_local("postings", spec.needed,
                                            _WAND_COLS)
        pdf["term"] = pdf["field"] + FIELD_SEP + pdf["term"]
        pdf = pdf.drop(columns="field")
        tomb = self.catalog.tombstones()
        kernel = self._range_kernel(spec, k, True, True, lambda: tomb)
        outs = [kernel((rid,), g.reset_index(drop=True))
                for rid, g in pdf.groupby("range_id", sort=False)]
        return (pd.concat(outs, ignore_index=True) if outs
                else pd.DataFrame(columns=_KERNEL_COLS))

    # ------------------------------------------------- relational path

    def _exploded_postings(self, pairs: list[tuple[str, str]]) -> DataFrame:
        """Decoded (field, term, doc_id, tf, dl) view — vectorized
        varint decode in mapInPandas; everything downstream is built-in
        ops."""
        rows = self.catalog.postings_for_terms(self.spark, pairs)
        sel = rows.select("field", "term", "first_doc", "n",
                          "docs", "tfs", "dls", "ver")
        tomb_of = self._spark_tomb()

        def decode_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bright_spark.index import codec
            tomb = tomb_of()
            for pdf in batches:
                if not len(pdf):
                    continue
                nb = pdf["first_doc"].str.len().to_numpy(dtype=np.int64)
                first = np.concatenate(pdf["first_doc"].to_numpy()).astype(np.int64)
                ns = np.concatenate(pdf["n"].to_numpy()).astype(np.int64)
                bufs_d = [buf for row in pdf["docs"] for buf in row]
                bufs_t = [buf for row in pdf["tfs"] for buf in row]
                bufs_l = [buf for row in pdf["dls"] for buf in row]
                if not bufs_d:
                    continue
                d = codec.decode_doc_blocks_bulk(first, ns, bufs_d)
                t = codec.decode_concat(bufs_t).astype(np.int64)
                l = codec.decode_concat(bufs_l).astype(np.int64)
                block_terms = np.repeat(pdf["term"].to_numpy(), nb)
                block_fields = np.repeat(pdf["field"].to_numpy(), nb)
                fields_e = np.repeat(block_fields, ns)
                terms_e = np.repeat(block_terms, ns)
                drop = None
                if tomb is not None:
                    ever = np.repeat(np.repeat(
                        pdf["ver"].fillna(0).to_numpy(np.int64), nb), ns)
                    drop = codec.tomb_drop(d, ever, tomb)
                if drop is not None:
                    keep = ~drop
                    d, t, l = d[keep], t[keep], l[keep]
                    fields_e, terms_e = fields_e[keep], terms_e[keep]
                yield pd.DataFrame({
                    "field": fields_e,
                    "term": terms_e,
                    "doc_id": d,
                    "tf": t,
                    "dl": l,
                })

        return sel.mapInPandas(
            decode_fn,
            "field STRING, term STRING, doc_id BIGINT, tf BIGINT, dl BIGINT")

    def _relational_hits(self, aq: AnalyzedQuery) -> DataFrame:
        """Exhaustively scored match set: (doc_id, score). The pure-
        DataFrame execution (SURVEY.md §7 step 1) used for filters,
        phrases, custom sorts, and differential testing."""
        docs_df = self.catalog.docs(self.spark)
        if aq.phrases and self.meta.get("store_positions"):
            return self._post_filter(self._phrase_hits(aq), aq, docs_df)

        weights, avgdls = self._term_weights(aq)
        k1 = float(self.meta["k1"])
        b = float(self.meta["b"])

        def known(s) -> bool:
            return fkey(s.field, s.term) in weights

        pos_specs: list[tuple[tuple[str, str], float, int]] = []  # key, w, group
        for gi, g in enumerate(aq.must_groups):
            for s in g:
                if known(s):
                    pos_specs.append((s.key, weights[fkey(*s.key)], gi))
        for s in aq.should_terms:
            if known(s):
                pos_specs.append((s.key, weights[fkey(*s.key)], -1))
        # each phrase token is its own conjunctive group: adjacency
        # implies conjunction, so verification only scans the (small)
        # AND-candidate set instead of the union of hot terms
        gi = len(aq.must_groups)
        for ph in aq.phrases:
            for t in ph.tokens:
                if fkey(ph.field, t) in weights:
                    pos_specs.append(((ph.field, t),
                                      weights[fkey(ph.field, t)], gi))
                    gi += 1
        n_groups = gi
        unsatisfiable = any(
            all(not known(s) for s in g) for g in aq.must_groups
        ) or (aq.phrases and any(fkey(ph.field, t) not in weights
                                 for ph in aq.phrases for t in ph.tokens))

        if aq.has_positive and (not pos_specs or unsatisfiable):
            return self.spark.createDataFrame([], _MATCH_SCHEMA)

        if not aq.has_positive:
            # match-all / filter-only / pure-negation: constant score 1
            # (Q1: every doc, score 1 — handlers/search.go:91-92)
            out = docs_df.select("doc_id").withColumn("score", F.lit(1.0))
            if aq.must_not_terms:
                neg = (self._exploded_postings(sorted(set(aq.must_not_terms)))
                       .select("doc_id").distinct())
                out = out.join(neg, "doc_id", "left_anti")
            return self._post_filter(out, aq, docs_df)

        # (field, term) -> (weight, field avgdl, must-group ids it can
        # satisfy)
        agg: dict[tuple[str, str], tuple[float, set[int]]] = {}
        for key, w, g in pos_specs:
            prev = agg.get(key, (w, set()))
            groups = prev[1] | ({g} if g >= 0 else set())
            agg[key] = (max(prev[0], w), groups)
        wdf = self.spark.createDataFrame(
            [(f, t, w, sorted(gs), avgdls[fkey(f, t)])
             for (f, t), (w, gs) in sorted(agg.items())],
            "field STRING, term STRING, w DOUBLE, groups ARRAY<INT>, adl DOUBLE",
        )
        exploded = self._exploded_postings(sorted(agg))
        tfn = (F.col("tf") * (k1 + 1.0)) / (
            F.col("tf") + k1 * (1.0 - b
                                + b * F.col("dl") / F.greatest(F.col("adl"),
                                                               F.lit(1e-9))))
        contrib = (exploded.join(F.broadcast(wdf), ["field", "term"])
                   .withColumn("contrib", F.col("w") * tfn))
        per_doc = (contrib.groupBy("doc_id")
                   .agg(F.sum("contrib").alias("score"),
                        F.size(F.array_distinct(
                            F.flatten(F.collect_list("groups")))).alias("n_g")))
        cand = per_doc.filter(F.col("n_g") >= n_groups) if n_groups else per_doc
        cand = cand.select("doc_id", "score")

        if aq.must_not_terms:
            neg = (self._exploded_postings(sorted(set(aq.must_not_terms)))
                   .select("doc_id").distinct())
            cand = cand.join(neg, "doc_id", "left_anti")

        if aq.phrases:
            # (non-positional fallback) the candidate frame is consumed
            # twice — once broadcast into the content re-verify, once in
            # the final semi-join; a lazy localCheckpoint materializes
            # the decode+score subtree exactly once
            cand = cand.localCheckpoint(eager=False)
            cand = self._verify_phrases(cand, aq.phrases, docs_df)
        return self._post_filter(cand, aq, docs_df)

    def _post_filter(self, cand: DataFrame, aq: AnalyzedQuery,
                     docs_df: DataFrame) -> DataFrame:
        """NOT-phrase exclusion, then the docs-predicate filter."""
        for ph in aq.must_not_phrases:
            cand = cand.join(self._phrase_matches(ph, docs_df),
                             "doc_id", "left_anti")
        if aq.attr_preds:
            keep = docs_df.filter(
                self._attr_filter(aq.attr_preds)).select("doc_id")
            cand = cand.join(keep, "doc_id", "left_semi")
        return cand

    def _phrase_hits(self, aq: AnalyzedQuery,
                     need_scores: bool = True) -> DataFrame:
        """Full match set (doc_id, score) of a phrase-bearing query on a
        positional index: one partition-pruned postings scan grouped by
        range, where :func:`scorer.score_range_phrase` does candidates,
        adjacency and scoring from a single decode. ``need_scores=False``
        tests membership only (NOT phrases) and scores zero."""
        spec = self._wand_spec(aq)
        phrases = [[fkey(ph.field, t) for t in ph.tokens]
                   for ph in aq.phrases]
        if spec is None or any(t not in spec.weights
                               for ph in phrases for t in ph):
            return self.spark.createDataFrame([], _MATCH_SCHEMA)
        weights, avgdls, must_groups, should, must_not, needed = spec
        avgdl = float(self.meta["avgdl"])
        k1 = float(self.meta["k1"])
        b = float(self.meta["b"])
        range_bits = int(self.meta["range_bits"])
        tomb_of = self._spark_tomb()

        def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            docs, scores, _ = scorer.score_range_phrase(
                pdf, weights, must_groups, should, must_not, phrases,
                base=int(key[0]) << range_bits, avgdl=avgdl, k1=k1, b=b,
                avgdl_by_term=avgdls, need_scores=need_scores,
                tomb=tomb_of())
            return pd.DataFrame({"doc_id": docs, "score": scores})

        return self._spark_ranges(needed, kernel, _MATCH_SCHEMA,
                                  positions=True)

    def _verify_phrases(self, cand: DataFrame, phrases: list,
                        docs_df: DataFrame) -> DataFrame:
        """Q4 adjacency without stored positions: keep only ``cand``
        docs matching ALL ``phrases``. Re-runs the BATCH analyzer over
        only the AND-candidate docs' own field text and chains packed
        ``doc<<32 | pos`` keys — the same flat-array adjacency algebra
        as the positional kernel, with zero per-row Python (the
        tokenizer's regex scan is the only per-doc work)."""
        lang_col = self.extra.get("lang_col")
        mode = self.meta.get("tokenizer", "code")
        stops = bool(self.meta.get("filter_stopwords"))
        fields = sorted({ph.field for ph in phrases})
        by_field = [(f, [list(ph.tokens) for ph in phrases if ph.field == f])
                    for f in fields]
        cols = ["doc_id"] + fields + ([lang_col] if lang_col else [])
        joined = docs_df.select(*cols).join(
            F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")

        def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bright_spark.analysis.tokenizer import count_terms_batch
            empty = np.empty(0, dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                langs = (pdf[lang_col].tolist() if lang_col else [None] * n)
                ok = np.ones(n, dtype=bool)
                for f, phs in by_field:
                    texts = pdf[f].fillna("").tolist()
                    term_arr, tf_arr, _, pos_arr = count_terms_batch(
                        texts, mode, langs, stops, positions=True)
                    lens = np.fromiter((len(t) for t in term_arr),
                                       np.int64, n)
                    if lens.sum() == 0:
                        ok[:] = False
                        continue
                    flat_terms = np.concatenate(
                        [np.asarray(t, dtype=object) for t in term_arr])
                    flat_tf = np.concatenate(
                        [np.asarray(t, dtype=np.int64) for t in tf_arr])
                    flat_doc = np.repeat(np.arange(n, dtype=np.int64), lens)
                    flat_pos = np.concatenate(
                        [np.asarray(p, dtype=np.int64) for p in pos_arr])
                    ent_start = np.concatenate(
                        ([0], np.cumsum(flat_tf)[:-1]))
                    keys_cache: dict[str, np.ndarray] = {}

                    def keys_of(token: str) -> np.ndarray:
                        """Sorted doc<<32|pos keys of one token over
                        the whole batch (ragged gather, no row loop)."""
                        if token in keys_cache:
                            return keys_cache[token]
                        sel = np.flatnonzero(flat_terms == token)
                        if sel.size == 0:
                            keys_cache[token] = empty
                            return empty
                        L = flat_tf[sel]
                        total = int(L.sum())
                        offs = np.concatenate(([0], np.cumsum(L)[:-1]))
                        ar = (np.arange(total, dtype=np.int64)
                              - np.repeat(offs, L)
                              + np.repeat(ent_start[sel], L))
                        keys = ((np.repeat(flat_doc[sel], L) << np.int64(32))
                                | flat_pos[ar])
                        keys.sort()
                        keys_cache[token] = keys
                        return keys

                    for ph in phs:
                        cur = keys_of(ph[0])
                        for i, t in enumerate(ph[1:], 1):
                            if cur.size == 0:
                                break
                            cur = cur[np.isin(cur + np.int64(i),
                                              keys_of(t))]
                        docs_ph = (np.unique(cur >> np.int64(32))
                                   if cur.size else empty)
                        hit = np.zeros(n, dtype=bool)
                        hit[docs_ph] = True
                        ok &= hit
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64)[ok]})

        ok = joined.mapInPandas(verify, "doc_id BIGINT")
        return cand.join(ok, "doc_id", "left_semi")

    def _phrase_matches(self, ph, docs_df: DataFrame) -> DataFrame:
        """All doc_ids matching one phrase (NOT-phrase exclusion, Q8):
        the positional kernel with scoring skipped, or AND-candidates
        from the postings + the content re-verify."""
        if self.meta.get("store_positions"):
            return self._phrase_hits(AnalyzedQuery(phrases=[ph]),
                                     need_scores=False).select("doc_id")
        toks = sorted(set(ph.tokens))
        ex = self._exploded_postings([(ph.field, t) for t in toks])
        cand = (ex.groupBy("doc_id")
                .agg(F.count_distinct("term").alias("n_t"))
                .filter(F.col("n_t") >= len(toks))
                .select("doc_id"))
        return self._verify_phrases(cand, [ph], docs_df).select("doc_id")

    # ------------------------------------------------------ public API

    def search_df(self, q: str, k: int = 10, mode: str = "auto",
                  prune: bool = True) -> DataFrame:
        """Top-k hits as a DataFrame (doc_id, score), default sort
        (-_score, doc_id). ``mode``: auto | wand | relational."""
        aq = self.planner.analyze(parse_query(q))
        use_wand = (mode == "wand" or (
            mode == "auto" and aq.has_positive and not aq.attr_preds
            and not aq.phrases and not aq.is_match_all)
        ) and not aq.must_not_phrases
        if use_wand:
            hits = (self._wand_hits(aq, k, prune=prune, need_total=False)
                    .select("doc_id", "score"))
        else:
            hits = self._relational_hits(aq)
        return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def match_df(self, q: str) -> DataFrame:
        """Full exhaustively-scored match set (doc_id, score) — the
        relational path, for callers that need the complete result
        (delete-by-filter U3, custom sorts, differential tests)."""
        aq = self.planner.analyze(parse_query(q))
        return self._relational_hits(aq)

    def search(self, request: SearchRequest | str, mode: str = "auto") -> SearchResponse:
        """Full request semantics R1-R6 (handlers/search.go:20-177)."""
        req = SearchRequest(q=request) if isinstance(request, str) else request
        req.validate()
        k_eff = req.effective_offset + req.limit

        aq = self.planner.analyze(parse_query(req.q))
        custom_sort = [s for s in (req.sort or []) if s.lstrip("-") != "_score"]
        use_wand = (mode != "relational" and aq.has_positive
                    and not aq.attr_preds and not aq.phrases
                    and not aq.must_not_phrases and not custom_sort)

        local = use_wand and self._use_driver(aq)
        if local:
            total, hits = merge_topk(self._wand_rows_local(aq, k_eff), k_eff)
        elif use_wand:
            # at most ranges x k_eff rows: collected once, merged on
            # the driver like the driver executor's
            rows = self._wand_hits(aq, k_eff).collect()
            total, hits = merge_topk(
                pd.DataFrame.from_records(rows, columns=_KERNEL_COLS), k_eff)
        else:
            cand = self._relational_hits(aq)
            cand.persist()
            try:
                total = cand.count()
                order = self._order_cols(req)
                scored = self._join_sort_fields(cand, req)
                hit_rows = scored.orderBy(*order).limit(k_eff).collect()
            finally:
                cand.unpersist()
            hits = [(r["doc_id"], r["score"]) for r in hit_rows]

        hits = hits[req.effective_offset:]
        resp = self._assemble(req, hits, int(total), local)
        resp.truncated_expansions = list(aq.truncated_expansions)
        return resp

    def _order_cols(self, req: SearchRequest):
        """R2: sort[]=[-]field, default -_score; doc_id tiebreak."""
        cols = []
        for s in req.sort or ["-_score"]:
            desc = s.startswith("-")
            name = s.lstrip("-+")
            col = F.col("score") if name == "_score" else F.col(name)
            cols.append(col.desc() if desc else col.asc())
        cols.append(F.col("doc_id").asc())
        return cols

    def _join_sort_fields(self, cand: DataFrame, req: SearchRequest) -> DataFrame:
        fields = {s.lstrip("-+") for s in (req.sort or []) if s.lstrip("-+") != "_score"}
        if not fields:
            return cand
        docs_df = self.catalog.docs(self.spark).select("doc_id", *sorted(fields))
        return cand.join(docs_df, "doc_id")

    def _assemble(self, req: SearchRequest, hits: list[tuple[int, float]],
                  total: int, local: bool = False) -> SearchResponse:
        """R3-R6: projections, id injection, envelope. ``local``: the
        docs are read by the driver executor."""
        if not hits:
            return SearchResponse(hits=[], total_hits=total, limit=req.limit)
        ids = [int(d) for d, _ in hits]
        scores = {int(d): float(s) for d, s in hits}

        def columns(available: list[str]) -> list[str]:
            if not req.attributes_to_retrieve:
                return available
            return ["doc_id", *[c for c in req.attributes_to_retrieve
                                if c in available and c != "doc_id"]]

        # group-dir-pruned fetch: a top-k assembly reads at most k doc
        # group dirs, never the whole docs table
        if local:
            recs = self.catalog.docs_for_ids_local(
                ids, columns(self._driver_doc_cols))
        else:
            docs_df = self.catalog.docs_for_ids(self.spark, ids)
            recs = [r.asDict() for r in
                    docs_df.select(*columns(docs_df.columns)).collect()]
        by_id = {int(r["doc_id"]): r for r in recs}
        out = []
        for d in ids:
            rec = dict(by_id.get(d, {"doc_id": d}))
            if "content_sha256" not in req.attributes_to_retrieve:
                # internal build column — the reference returns the
                # user's document fields, not index bookkeeping
                rec.pop("content_sha256", None)
            for c in req.attributes_to_exclude:
                rec.pop(c, None)  # R4 post-filter (search.go:161-166)
            if "id" not in rec:
                rec["id"] = str(d)  # R5 id injection (search.go:156-158)
            rec["_score"] = scores[d]
            out.append(rec)
        return SearchResponse(hits=out, total_hits=total, limit=req.limit)
