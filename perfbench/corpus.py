"""The LLM-data corpus and its DuckDB oracle.

The corpus copies the shape of the repository's test data, as measured on
its `documents` table at sf0.1 and its `embeddings` table at sf0.01 (the
size the oracle SQL is written for: the banded-LSH queries fix band width
6 = adaptiveBits(n), which holds for n <= 512; sf0.1 has 2000 vectors):

  documents   5000 rows; 10-99 words drawn uniformly from a 30-word
              vocabulary (no punctuation); 250 documents (5%) are another
              document's text with " dup" appended; lang en 41%, es/fr/zh
              15% each, de 14%; source = src<doc_id mod 20>
  embeddings  500 unit vectors of 64 dimensions with no cluster structure
              (same-label and other-label cosines both spread +-0.21 around
              0), labels 0-9 at random

`REFERENCE_ROWS` holds the oracle's row counts on that test data; every
run checks that the generated corpus gives counts within
`REFERENCE_TOLERANCE` of them. The content is fixed; the run's seed only
permutes row order.
"""
import hashlib
import json
import math
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240601
N_DOCS = 5000
N_DUPS = 250
MIN_WORDS, MAX_WORDS = 10, 99
N_VECS = 500
DIM = 64
N_LABELS = 10

VOCAB = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector window").split()
LANGS = (("en", 0.412), ("es", 0.149), ("fr", 0.148), ("zh", 0.151), ("de", 0.140))

# Oracle rows on the test data: dedup_minhash and text_quality over the
# sf0.1 documents, the vector queries over the sf0.01 embeddings.
REFERENCE_ROWS = {"dedup_minhash": 256, "text_quality": 5000, "dedup_semantic": 500,
                  "ann_pairs_lsh": 175, "ann_ivf_pq": 20}
REFERENCE_TOLERANCE = 0.10


def _documents(rng):
    texts = [" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(MIN_WORDS, MAX_WORDS + 1))))
             for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, N_DUPS, replace=False):
        j = int(rng.integers(0, N_DOCS - 1))
        texts[i] = texts[j if j < i else j + 1] + " dup"
    names, weights = zip(*LANGS)
    langs = rng.choice(names, N_DOCS, p=np.array(weights) / sum(weights))
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng):
    vecs = rng.normal(size=(N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": [list(map(float, v.astype(np.float32))) for v in vecs],
        "label": rng.integers(0, N_LABELS, size=N_VECS).astype(np.int32),
    }


def write_corpus(out_dir: Path, seed: int) -> None:
    """Write documents.parquet and embeddings.parquet, rows permuted by `seed`."""
    docs = _documents(np.random.default_rng(CONTENT_SEED))
    embs = _embeddings(np.random.default_rng(CONTENT_SEED + 1))
    perm = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, cols, schema in (
        ("documents", docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                                       ("lang", pa.string()), ("source", pa.string()),
                                       ("n_chars", pa.int64())])),
        ("embeddings", embs, pa.schema([("vec_id", pa.int64()),
                                        ("embedding", pa.list_(pa.float32())),
                                        ("label", pa.int32())])),
    ):
        table = pa.table(cols, schema=schema)
        table = table.take(pa.array(perm.permutation(table.num_rows)))
        pq.write_table(table, out_dir / f"{name}.parquet")


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _key(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted([_cell(r[i]) for i in order] for r in rows)


def oracle(input_dir: Path, sql: dict, cache_dir: Path) -> dict:
    """Each query's oracle rows, normalised. Cached by corpus content and
    SQL text: the seed only permutes rows, which no result depends on."""
    tag = hashlib.sha256((Path(__file__).read_text() + json.dumps(sql, sort_keys=True)).encode()).hexdigest()[:16]
    cached = cache_dir / f"oracle-{tag}.json"
    if cached.exists():
        return json.loads(cached.read_text())
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    out = {}
    for name, q in sql.items():
        cur = con.execute(q)
        cols = [d[0] for d in cur.description]
        out[name] = {"cols": sorted(cols), "rows": _key(cols, cur.fetchall())}
    cache_dir.mkdir(parents=True, exist_ok=True)
    cached.write_text(json.dumps(out))
    return out


def compare(input_dir: Path, outputs: Path, cache_dir: Path) -> list:
    """Spark outputs against the oracle, and the oracle's row counts against
    the test data's; returns the failures."""
    sql = json.loads((outputs / "oracle_sql.json").read_text())
    want = oracle(input_dir, sql, cache_dir)
    con = duckdb.connect()
    fails = []
    for name, w in want.items():
        ref = REFERENCE_ROWS[name]
        if abs(len(w["rows"]) - ref) > REFERENCE_TOLERANCE * ref:
            fails.append(f"{name}: the corpus gives {len(w['rows'])} oracle rows, the test data {ref}")
        d = outputs / name
        if not d.exists():
            fails.append(f"{name}: no output")
            continue
        cur = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        cols = [x[0] for x in cur.description]
        rows = _key(cols, cur.fetchall())
        if sorted(cols) != w["cols"]:
            fails.append(f"{name}: columns {sorted(cols)} vs oracle {w['cols']}")
        elif len(rows) != len(w["rows"]):
            fails.append(f"{name}: {len(rows)} rows vs oracle {len(w['rows'])}")
        elif rows != w["rows"]:
            fails.append(f"{name}: values differ from the oracle")
        elif not rows:
            fails.append(f"{name}: empty result")
    return fails
