"""Answer search requests with the repository's pure-Python BM25 oracle.

Runs in its own process (the oracle holds every document's term counts
in Python dicts), never beside a timed phase. Answers are cached in a
JSON file keyed by request; the caller puts a hash of the oracle,
tokenizer, parser and id-order sources in that file's name.

    python3 perfbench/oracle_answers.py --root . --corpus C.parquet \
        --requests R.json --cache A.json --partitions 4 \
        [--id-col file_id] [--lang-col lang]
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def request_key(q: str, offset: int, limit: int) -> str:
    return json.dumps([q, offset, limit])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--lang-col", default=None)
    ap.add_argument("--partitions", type=int, required=True)
    args = ap.parse_args()
    sys.path[:0] = [args.root, os.path.join(args.root, "tests")]

    import pandas as pd
    from oracle import OracleIndex

    with open(args.requests) as f:
        requests = json.load(f)
    answers = {}
    if os.path.exists(args.cache):
        with open(args.cache) as f:
            answers = json.load(f)
    todo = [r for r in requests if request_key(*r) not in answers]
    if todo:
        rows = pd.read_parquet(args.corpus).to_dict("records")
        oracle = OracleIndex(rows, id_col=args.id_col, lang_col=args.lang_col,
                             n_partitions=args.partitions)
        for q, offset, limit in todo:
            hits, total = oracle.search(q, k=offset + limit)
            hits = hits[offset:]
            answers[request_key(q, offset, limit)] = {
                "ids": [int(d) for d, _ in hits],
                "scores": [float(s) for _, s in hits],
                "total": int(total)}
        tmp = f"{args.cache}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(answers, f)
        os.replace(tmp, args.cache)


if __name__ == "__main__":
    main()
