"""Driver executor of the WAND read path (query/engine.py): a WAND
``search()`` whose term buckets' posting files are under
``DRIVER_READ_MAX_BYTES`` runs on the driver with zero Spark jobs, and
must answer bit-identically to the Spark executor — which runs when the
constant is 0 — in ids, scores, ``total_hits`` and assembled hit dicts.
Ineligible indexes fall back to Spark before anything is read."""

import contextlib
import datetime
import decimal
import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest

from bright_spark.index.builder import build_index
from bright_spark.index.catalog import IndexCatalog
from bright_spark.index.mutations import IndexMutator
from bright_spark.models import IndexConfig, SearchRequest
from bright_spark.query import engine as engine_mod
from bright_spark.query.engine import SearchEngine
from tests.test_query_parity import QUERIES

MUTATED_QUERIES = [
    "user", "parse config", "parser AND config", "config NOT user",
    "alpha", "token3", "replaced", "resurrected user", "new alpha",
    "gamma1 gamma7 gamma150", "+alpha -beta", "user1^3 user2",
    "zzz_absent", "alpha AND zzz_absent",
    "nosuchfield:user", "user AND nosuchfield:user",
]


def _requests(queries):
    """Page 1, page 2 (offset > 0), and projected hit dicts."""
    out = []
    for q in queries:
        out += [SearchRequest(q=q, limit=10),
                SearchRequest(q=q, offset=5, limit=5),
                SearchRequest(q=q, limit=3, attributes_to_exclude=["content"]),
                SearchRequest(q=q, limit=3,
                              attributes_to_retrieve=["doc_id", "lang"])]
    return out


@contextlib.contextmanager
def _spark_jobs(spark):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    group = f"driver-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver read test")
    jobs: list[int] = []
    try:
        yield jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def executors(monkeypatch):
    """Counts calls of each WAND executor."""
    calls = {"driver": 0, "spark": 0}

    def spy(name, attr):
        orig = getattr(SearchEngine, attr)

        def wrapped(*args, **kwargs):
            calls[name] += 1
            return orig(*args, **kwargs)

        monkeypatch.setattr(SearchEngine, attr, wrapped)

    spy("driver", "_wand_rows_local")
    spy("spark", "_wand_hits")
    return calls


def _search_spark(monkeypatch, eng, req):
    with monkeypatch.context() as m:
        m.setattr(engine_mod, "DRIVER_READ_MAX_BYTES", 0)
        return eng.search(req)


# ------------------------------------------------------------ indexes

def _build_small(spark, idx):
    rows = [{"doc_id": i * 113, "lang": ["en", "de"][i % 2],
             "text": (f"parse config user{i % 5} alpha beta token{i % 7} "
                      f"gamma{i}")}
            for i in range(200)]
    build_index(spark, spark.createDataFrame(rows), idx,
                IndexConfig(id="drvread"), id_col="doc_id",
                content_col="text", lang_col="lang", n_build_partitions=4)


@pytest.fixture(scope="module")
def mutated_index(spark, tmp_path_factory):
    """Fast-path upserts and deletes: postings/term_stats delta chains
    and a tombstone table."""
    idx = str(tmp_path_factory.mktemp("drvread") / "idx")
    _build_small(spark, idx)

    def mut():
        return IndexMutator(spark, idx, fast="auto", compact_threshold=0)

    mut().upsert_rows([
        {"doc_id": 113, "lang": "en", "text": "replaced parse alpha doc"},
        {"doc_id": 339, "lang": "de", "text": "replaced config beta"},
        {"doc_id": 99991, "lang": "en", "text": "new user parse config"},
        {"doc_id": 99992, "lang": "de", "text": "new alpha token3 entry"},
    ])
    mut().delete_ids([226, 99991, 452])
    mut().upsert_rows([
        {"doc_id": 226, "lang": "de", "text": "resurrected user config"}])
    cat = IndexCatalog(idx)
    assert cat.delta_depth("postings") > 1
    assert cat.delta_depth("term_stats") > 1
    assert cat.tombstones() is not None
    assert all(s["metrics"].get("mode") == "append-fast"
               for s in cat.snapshots()[1:])
    return idx


@pytest.fixture(scope="module")
def no_ver_index(mutated_index, tmp_path_factory):
    """The mutated index with the build's posting files rewritten
    without the ``ver`` column (older layouts): Spark reads null."""
    idx = str(tmp_path_factory.mktemp("drvread_nover") / "idx")
    shutil.copytree(mutated_index, idx)
    base = IndexCatalog(idx).read_manifest(1)["tables"]["postings"]
    n = 0
    for rel in base.values():
        for f in glob.glob(os.path.join(idx, rel, "*.parquet")):
            tab = pq.read_table(f)
            pq.write_table(tab.drop_columns(["ver"]), f)
            # the Hadoop checksum sidecar no longer matches: drop it
            crc = os.path.join(os.path.dirname(f),
                               f".{os.path.basename(f)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            n += 1
    assert n
    return idx


# ------------------------------------------------------------- parity

@pytest.mark.parametrize("index", ["built_index", "mutated_index",
                                   "no_ver_index"])
def test_driver_read_equals_spark(spark, request, monkeypatch, executors,
                                  index):
    idx = request.getfixturevalue(index)
    queries = MUTATED_QUERIES
    if index == "built_index":
        idx, queries = idx.index_dir, QUERIES
    drv, spk = SearchEngine(spark, idx), SearchEngine(spark, idx)
    wand = 0
    for req in _requests(queries):
        before = dict(executors)
        got = drv.search(req)
        ran_driver = executors["driver"] - before["driver"]
        assert executors["spark"] == before["spark"], req
        want = _search_spark(monkeypatch, spk, req)
        ran_spark = executors["spark"] - before["spark"]
        # every WAND request of the Spark run took the driver executor
        # in the driver run
        assert ran_driver == ran_spark, req
        wand += ran_spark
        assert got.to_dict() == want.to_dict(), req
    assert wand >= len(queries)  # the WAND path is exercised throughout


# -------------------------------------------------------- eligibility

def test_below_threshold_runs_zero_spark_jobs(spark, built_index,
                                              executors):
    eng = SearchEngine(spark, built_index.index_dir)
    for q in ("user", "parse config", "parser AND config",
              "config NOT test", "zzz_nonexistent_term"):
        with _spark_jobs(spark) as jobs:
            eng.search(SearchRequest(q=q, limit=10, offset=2))
        assert jobs == [], q
    assert executors["driver"] == 5 and executors["spark"] == 0


def test_above_threshold_runs_spark_plan(spark, built_index, monkeypatch,
                                         executors):
    eng = SearchEngine(spark, built_index.index_dir)
    drv = SearchEngine(spark, built_index.index_dir)
    req = SearchRequest(q="parse config", limit=10)
    want = drv.search(req)
    assert executors == {"driver": 1, "spark": 0}
    with _spark_jobs(spark) as jobs:
        got = _search_spark(monkeypatch, eng, req)
    assert jobs
    assert executors == {"driver": 1, "spark": 1}
    assert got.to_dict() == want.to_dict()


def _rewrite_manifest(idx, edit):
    cat = IndexCatalog(idx)
    sid = cat.current_snapshot_id()
    m = cat.read_manifest(sid)
    edit(m)
    with open(os.path.join(cat.snapshots_dir, f"s{sid:08d}.json"), "w") as f:
        json.dump(m, f)


def _legacy_term_stats(idx):
    """v3 shape: term_stats as ONE dir (a string manifest entry)."""
    def edit(m):
        rel = os.path.join("data", "term_stats", "v00000099")
        os.makedirs(os.path.join(idx, rel))
        for i, d in enumerate(sorted(m["tables"]["term_stats"].values())):
            for j, f in enumerate(sorted(glob.glob(
                    os.path.join(idx, d, "*.parquet")))):
                shutil.copy(f, os.path.join(idx, rel,
                                            f"part-{i:05d}-{j}.parquet"))
        m["tables"]["term_stats"] = rel
    _rewrite_manifest(idx, edit)


def _no_docs_range_bits(idx):
    def edit(m):
        del m["meta"]["docs_range_bits"]
        m["meta"]["version"] = 3
    _rewrite_manifest(idx, edit)


@pytest.mark.parametrize("layout", ["string_entry", "no_docs_range_bits"])
def test_v3_layout_falls_back_to_spark(spark, built_index, tmp_path,
                                       monkeypatch, executors, layout):
    idx = str(tmp_path / "v3")
    shutil.copytree(built_index.index_dir, idx)
    {"string_entry": _legacy_term_stats,
     "no_docs_range_bits": _no_docs_range_bits}[layout](idx)
    before = sorted(os.path.relpath(os.path.join(r, f), idx)
                    for r, _, fs in os.walk(idx) for f in fs)
    req = SearchRequest(q="parse config user", limit=10, offset=3)
    with _spark_jobs(spark) as jobs:
        got = SearchEngine(spark, idx).search(req)
    assert jobs
    assert executors == {"driver": 0, "spark": 1}
    want = SearchEngine(spark, built_index.index_dir).search(req)
    assert executors["driver"] == 1
    assert got.to_dict() == want.to_dict()
    after = sorted(os.path.relpath(os.path.join(r, f), idx)
                   for r, _, fs in os.walk(idx) for f in fs)
    assert after == before


TYPED_COLUMNS = {
    "timestamp": ("ts TIMESTAMP", lambda i: datetime.datetime(2024, 1, 1, i)),
    "map": ("tags MAP<STRING,INT>", lambda i: {"k": i}),
    "struct": ("owner STRUCT<name:STRING,n:INT>", lambda i: (f"o{i}", i)),
    "decimal": ("price DECIMAL(10,2)",
                lambda i: decimal.Decimal(f"{i}.25")),
}


@pytest.mark.parametrize("kind", sorted(TYPED_COLUMNS))
def test_docs_type_falls_back_to_spark(spark, tmp_path, executors, kind):
    ddl, value = TYPED_COLUMNS[kind]
    rows = [(i, "en", f"parse config user{i % 3}", value(i))
            for i in range(12)]
    df = spark.createDataFrame(
        rows, f"doc_id BIGINT, lang STRING, text STRING, {ddl}")
    idx = str(tmp_path / kind)
    col = ddl.split()[0]
    build_index(spark, df, idx, IndexConfig(id=kind), id_col="doc_id",
                content_col="text", lang_col="lang", attr_cols=(col,),
                n_build_partitions=2)
    eng = SearchEngine(spark, idx)
    assert eng._driver_doc_cols is None
    with _spark_jobs(spark) as jobs:
        resp = eng.search(SearchRequest(q="parse user1", limit=5))
    assert jobs
    assert executors == {"driver": 0, "spark": 1}
    by_id = {r["doc_id"]: r[col] for r in
             eng.catalog.docs(spark).select("doc_id", col).collect()}
    assert resp.hits and all(h[col] == by_id[h["doc_id"]] for h in resp.hits)
