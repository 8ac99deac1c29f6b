#!/usr/bin/env python3
"""Shape of a `documents.parquet` corpus, as the curation queries see it.

    python3 perfbench/corpus_stats.py <documents.parquet> [...]

Prints, per file: rows, vocabulary size, tokens per document (min,
quartiles, max), language shares, distinct sources, and the share of
near-duplicates (a text that is another document's text plus the
marker word `dup`). `gen.py`'s corpus is sized from these figures as
measured on the repository's fixture corpus; README.md lists them.
"""
import collections
import json
import statistics
import sys

import pyarrow.parquet as pq

MARKER = "dup"


def stats(path):
    t = pq.read_table(path, columns=["text", "lang", "source"]).to_pydict()
    texts = t["text"]
    tokens = [x.split() for x in texts]
    lens = sorted(len(x) for x in tokens)
    vocab = {w for x in tokens for w in x}
    known = set(texts)
    near = sum(x.endswith(" " + MARKER) and x[:-len(MARKER) - 1] in known for x in texts)
    langs = collections.Counter(t["lang"])
    return {
        "rows": len(texts),
        "vocabulary": len(vocab),
        "marker_in_vocabulary": MARKER in vocab,
        "tokens": [lens[0], *statistics.quantiles(lens, n=4), lens[-1]],
        "langs": {k: round(v / len(texts), 3) for k, v in sorted(langs.items())},
        "sources": len(set(t["source"])),
        "near_dup_share": round(near / len(texts), 3),
    }


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print(p, json.dumps(stats(p)))
