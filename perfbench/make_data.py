#!/usr/bin/env python3
"""Cut the curation workload's input tables from graft's sf0.1 testdata.

    python3 perfbench/make_data.py <sf0.1 directory>

writes perfbench/data/{documents,embeddings,events}.parquet and
perfbench/data/MANIFEST.json: the first DOCS documents and EMBEDDINGS
embeddings in their stored order, and every event of one user in
USER_STRIDE (so each kept user keeps the whole 30-day history the trailing
windows run over). Rows are copied unchanged. The manifest records each
file's SHA-256, which the benchmark checks before it runs, and the
statistics of the subset next to those of the full sf0.1 tables.
"""

import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DOCS = 500
EMBEDDINGS = 400
USER_STRIDE = 10

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data")


def stats(docs, vecs, events):
    words = [w for t in docs.column("text").to_pylist() for w in t.split()]
    n_chars = docs.column("n_chars")
    users = pc.unique(events.column("user_id"))
    return {
        "documents": {
            "rows": docs.num_rows,
            "n_chars_min": pc.min(n_chars).as_py(),
            "n_chars_mean": round(pc.mean(n_chars).as_py(), 1),
            "n_chars_max": pc.max(n_chars).as_py(),
            "words_per_doc": round(len(words) / docs.num_rows, 1),
            "vocabulary": len(set(words)),
            "sources": len(pc.unique(docs.column("source"))),
            "langs": len(pc.unique(docs.column("lang"))),
            "duplicate_texts": docs.num_rows - len(pc.unique(docs.column("text"))),
        },
        "embeddings": {
            "rows": vecs.num_rows,
            "dim": len(vecs.column("embedding")[0].as_py()),
            "labels": len(pc.unique(vecs.column("label"))),
        },
        "events": {
            "rows": events.num_rows,
            "users": len(users),
            "events_per_user": round(events.num_rows / max(1, len(users)), 1),
            "event_types": len(pc.unique(events.column("event_type"))),
            "value_mean": round(pc.mean(events.column("value")).as_py(), 2),
            "days": round((pc.max(events.column("ts")).value -
                           pc.min(events.column("ts")).value) / 86400e6, 1),
        },
    }


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = sys.argv[1]
    docs = pq.read_table(os.path.join(src, "documents.parquet"))
    vecs = pq.read_table(os.path.join(src, "embeddings.parquet"))
    events = pq.read_table(os.path.join(src, "events.parquet"))
    cut = {
        "documents": docs.slice(0, DOCS),
        "embeddings": vecs.slice(0, EMBEDDINGS),
        "events": events.filter(pa.array(
            [u % USER_STRIDE == 0 for u in events.column("user_id").to_pylist()])),
    }
    os.makedirs(OUT, exist_ok=True)
    files = {}
    for name, table in cut.items():
        path = os.path.join(OUT, f"{name}.parquet")
        pq.write_table(table.replace_schema_metadata(None), path)
        with open(path, "rb") as f:
            files[f"{name}.parquet"] = hashlib.sha256(f.read()).hexdigest()
    manifest = {
        "source": "graft testdata sf0.1",
        "cut": {"documents": f"first {DOCS} rows",
                "embeddings": f"first {EMBEDDINGS} rows",
                "events": f"rows with user_id % {USER_STRIDE} == 0"},
        "sha256": files,
        "subset": stats(cut["documents"], cut["embeddings"], cut["events"]),
        "sf0.1": stats(docs, vecs, events),
    }
    with open(os.path.join(OUT, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
