"""Seeded input generator for the benchmark.

Writes the `documents` and `embeddings` tables in the schema the program's
queries read (`documents.parquet`: doc_id int64, text, lang, source,
n_chars int64; `embeddings.parquet`: vec_id int64, embedding list<float>,
label int32), plus the text-document drops of the stream workload.

The vocabulary and language mix follow the project's test data: 30 words,
10 to 100 words per document, about 41 % `en` and 15 % each of `zh`, `es`,
`fr`, `de`, and `source = src{doc_id % 20}`. On top of that random text the
generator plants the structure the curation layers look for, because random
text alone has none:

- exact duplicates: a copy of another document's text;
- near duplicates: another document's text plus the word `dup`;
- contained documents: a contiguous run of at least 70 % of another
  document's words;
- a length tail: 1 % of the documents have 100 to 600 words
  (log-uniform);
- heavy documents (ingest only): a few documents long enough that the
  synthesised span document passes the skew salter's 4,096-span threshold;
- embeddings: unit vectors, some of them near copies (cosine above 0.97)
  of another vector.

The same seed always gives byte-identical files.
"""
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array("the a spark window merge table column vector stream value "
                 "data small join filter big group hash customer sort order "
                 "slow line part fast row agg key query scan batch".split())
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SOURCES = 20
EXACT_SHARE = 0.02
NEAR_SHARE = 0.05
CONTAINED_SHARE = 0.02
NEAR_DUP_VEC_SHARE = 0.05
EMBED_DIM = 64
SPAN_WORDS = 12          # words per synthesised span (SpanSynth.ParaWords)
HEAVY_SPANS = 4300       # above SkewSalter.DefaultHeavyThreshold (4,096)
LONG_SHARE = 0.01
LONG_WORDS = (100, 600)
FILES_PER_TABLE = 8


def _texts(rng, n_docs, heavy_ids):
    """Word arrays of every document, and the ids of the length tail."""
    lengths = rng.integers(10, 101, n_docs)
    n_long = int(n_docs * LONG_SHARE)
    lo, hi = np.log(LONG_WORDS[0]), np.log(LONG_WORDS[1])
    long_ids = rng.choice(n_docs, n_long, replace=False)
    lengths[long_ids] = np.exp(rng.uniform(lo, hi, n_long)).astype(int)
    for d in heavy_ids:
        lengths[d] = HEAVY_SPANS * SPAN_WORDS
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    starts = ends - lengths
    return [words[s:e] for s, e in zip(starts, ends)], np.sort(long_ids)


def _heavy_ids(rng, n_docs, n_heavy):
    # classes 0-3 (doc_id % 5 != 4 is one html span) and not the all-blank
    # residue (doc_id % 25 == 5), so each heavy doc really has > 4,096 spans
    ok = [d for d in range(n_docs) if d % 5 != 4 and d % 25 != 5]
    return sorted(int(x) for x in rng.choice(ok, n_heavy, replace=False))


def documents(seed, n_docs, n_heavy):
    """Return (columns dict, plant summary) for the documents table."""
    rng = np.random.default_rng(seed)
    heavy = _heavy_ids(rng, n_docs, n_heavy)
    words, long_ids = _texts(rng, n_docs, heavy)
    texts = [" ".join(w) for w in words]
    heavy_set = set(heavy)
    plain = [d for d in range(n_docs) if d not in heavy_set]
    order = rng.permutation(plain)
    n_exact = int(n_docs * EXACT_SHARE)
    n_near = int(n_docs * NEAR_SHARE)
    n_cont = int(n_docs * CONTAINED_SHARE)
    planted = order[:n_exact + n_near + n_cont]
    bases = order[len(planted):]
    base_of = rng.choice(bases, len(planted))
    for i, (d, b) in enumerate(zip(planted, base_of)):
        if i < n_exact:
            texts[d] = texts[b]
        elif i < n_exact + n_near:
            texts[d] = texts[b] + " dup"
        else:
            w = words[b]
            k = max(8, int(np.ceil(len(w) * rng.uniform(0.7, 0.95))))
            s = int(rng.integers(0, len(w) - k + 1))
            texts[d] = " ".join(w[s:s + k])
    ids = np.arange(n_docs, dtype=np.int64)
    cols = {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)].tolist(),
        "source": [f"src{d % SOURCES}" for d in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    summary = {"docs": n_docs, "exact_dups": n_exact, "near_dups": n_near,
               "contained": n_cont, "long_docs": int(n_docs * LONG_SHARE),
               "max_words": int(max(len(w) for w in words)), "heavy_ids": heavy,
               "heavy_words": HEAVY_SPANS * SPAN_WORDS,
               # disjoint strata for cutting drops: the length tail, then
               # each planted kind
               "strata": [np.setdiff1d(long_ids, np.concatenate([heavy, planted]))]
               + np.split(planted, [n_exact, n_exact + n_near])}
    return cols, summary


def embeddings(seed, n_vecs):
    rng = np.random.default_rng(seed + 7919)
    v = rng.standard_normal((n_vecs, EMBED_DIM))
    n_near = int(n_vecs * NEAR_DUP_VEC_SHARE)
    copies = rng.choice(n_vecs, n_near, replace=False)
    srcs = rng.choice(np.setdiff1d(np.arange(n_vecs), copies), n_near)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    noise = rng.standard_normal((n_near, EMBED_DIM))
    noise *= 0.2 / np.linalg.norm(noise, axis=1, keepdims=True)
    v[copies] = v[srcs] + noise
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.array(list(v.astype(np.float32)), type=pa.list_(pa.float32()))
    return {"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": emb,
            "label": rng.integers(0, 10, n_vecs).astype(np.int32)}


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])


def _write_parts(table, path, files):
    """A table as a directory of `files` parquet parts (multi-file input, so
    the scan has parallel splits)."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def span_drops(out_dir, synth_sql):
    """The span-document copy of each drop, under `span_drops/drop=dNNN/`.

    DuckDB runs the program's `synth_spans` oracle (the SQL twin of
    `SpanSynth.synth`, value-exact with it) and nests its rows into the
    `(doc_id, spans)` layout the span tails read."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{out_dir}/documents.parquet/*.parquet')")
    con.execute(f"""CREATE TABLE spans AS
        SELECT doc_id, list({{'kind': kind, 'text': text, 'media_ref': media_ref,
                             'offset': "offset"}} ORDER BY "offset") AS spans
        FROM ({synth_sql}) GROUP BY doc_id""")
    for d in sorted(os.listdir(os.path.join(out_dir, "drops"))):
        os.makedirs(os.path.join(out_dir, "span_drops", d))
        con.execute(f"""COPY (
            SELECT * FROM spans WHERE CAST(substr(doc_id, 5) AS BIGINT) IN
              (SELECT doc_id FROM read_parquet('{out_dir}/drops/{d}/*.parquet'))
            ORDER BY doc_id)
            TO '{out_dir}/span_drops/{d}/part-00000.parquet' (FORMAT parquet)""")


def write_inputs(out_dir, seed, n_docs, n_heavy, n_vecs, drops=0, synth_sql=None):
    """Write the tables under `out_dir`; return the plant summary.

    With `drops > 0`, also cut the documents into that many drops of text
    documents under `out_dir/drops/drop=dNNN/` (two files each), stratified
    so that every drop has the same make-up, and their span-document copies
    (`span_drops`), for the stream workload."""
    cols, summary = documents(seed, n_docs, n_heavy)
    docs = pa.table(cols, schema=DOC_SCHEMA)
    _write_parts(docs, os.path.join(out_dir, "documents.parquet"),
                 FILES_PER_TABLE)
    emb = pa.table(embeddings(seed, n_vecs), schema=EMB_SCHEMA)
    _write_parts(emb, os.path.join(out_dir, "embeddings.parquet"), 2)
    if drops:
        # stratified: each drop gets an equal share of the length tail, of
        # each planted kind and of the rest, dealt in seeded order
        rng = np.random.default_rng(seed + 104729)
        strata = summary["strata"]
        rest = np.setdiff1d(np.arange(n_docs), np.concatenate(strata))
        members = [[] for _ in range(drops)]
        i = 0
        for stratum in strata + [rest]:
            for d in rng.permutation(stratum):
                members[i % drops].append(int(d))
                i += 1
        text = docs.select(["doc_id", "source", "text"])
        for k in range(drops):
            _write_parts(text.take(pa.array(sorted(members[k]))),
                         os.path.join(out_dir, "drops", f"drop=d{k:03d}"), 2)
        with open(os.path.join(out_dir, "drop_docs.txt"), "w") as fh:
            fh.write("".join(f"d{k:03d} {len(m)}\n" for k, m in enumerate(members)))
        span_drops(out_dir, synth_sql)
    summary["vectors"] = n_vecs
    summary["drops"] = drops
    del summary["strata"]
    return summary


def digest(out_dir):
    """SHA-256 over every file written (names and bytes), for the
    same-seed-same-inputs check."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out_dir):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
