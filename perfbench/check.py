"""Output checks, run after the timed region.

DuckDB runs the program's own oracle SQL (`SparkEntry.oracleSql`,
`ExtractOracle`, `TextOracles`, written by `build.py`) over the same
generated tables, and each output left by a timed round is compared with
it value by value, as `tools/check_oracle.py` compares: the same column
set, the same row count, and equal values row by row in order, floats
rounded to 9 places. Outputs without an oracle are checked against a
stated property of the method.

The span-extraction oracle (`ExtractOracle`) copies each document's word
list once per span, so its cost grows with the square of document length;
documents past the skew salter's threshold are left out of the DuckDB
`documents` view for the extract, llm and lookup oracles, and out of the
outputs compared with them. The harness checks those documents by the
salter's invariance property instead (skew path equals the direct kernel).

Each check names the operation it covers. An operation with any failed
check counts as failed.
"""
import decimal
import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if np.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple((k, _norm(x)) for k, x in v.items())
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, np.floating):
        return _norm(float(v))
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    return v


def compare(actual, expected):
    """None when equal, else a one-line description of the first mismatch."""
    acols, ecols = sorted(actual.columns), sorted(expected.columns)
    if acols != ecols:
        return f"schema {acols} != oracle {ecols}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != oracle {len(expected)}"
    for c in acols:
        a = actual[c].astype(object).where(actual[c].notna(), None).tolist()
        b = expected[c].astype(object).where(expected[c].notna(), None).tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if _norm(x) != _norm(y):
                return f"col {c} row {i}: {str(x)[:80]!r} != oracle {str(y)[:80]!r}"
    return None


def read_dir(path):
    """A Spark parquet output directory, part files in partition order."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def _pq(path):
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


def _connect(input_dir, where, tmp, landed):
    con = duckdb.connect()
    con.execute(f"SET threads TO {min(4, os.cpu_count() or 1)}")
    con.execute(f"SET temp_directory = '{tmp}'")
    con.register("landed", landed)
    for name, cond in (("documents", where), ("embeddings", "true")):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{name}.parquet/*.parquet') WHERE {cond}")
    return con


class Checker:
    def __init__(self, input_dir, oracle_sql, heavy_ids, tmp, landed_ids=None):
        """`landed_ids`: the documents a stream run landed (default: all)."""
        heavy = ", ".join(str(int(d)) for d in heavy_ids)
        keys = ", ".join(f"'doc-{int(d):08d}'" for d in heavy_ids)
        all_ids = pd.read_parquet(os.path.join(input_dir, "documents.parquet"),
                                  columns=["doc_id"])["doc_id"]
        self.landed = pd.DataFrame({"doc_id": all_ids if landed_ids is None else landed_ids})
        self.con = _connect(input_dir, "true", tmp, self.landed)
        # the extract-family oracles run on the landed documents without
        # the heavy ones
        cond = "doc_id IN (SELECT doc_id FROM landed)"
        if heavy:
            cond += f" AND doc_id NOT IN ({heavy})"
        self.light = _connect(input_dir, cond, tmp, self.landed)
        self.not_heavy = f"doc_id NOT IN ({keys})" if keys else "true"
        self.n_heavy = len(heavy_ids)
        self.sql = oracle_sql
        self.cache = {}
        self.extract_sql = oracle_sql["extract_full"]

    def _embedded(self, sql):
        # the extract oracle runs once; the llm and lookup oracles embed the
        # same SQL text, which is replaced by a reference to its result
        if "extract_oracle" not in self.cache:
            self.light.execute(f"CREATE TABLE extract_oracle AS {self.extract_sql}")
            self.cache["extract_oracle"] = True
        assert self.extract_sql in sql
        return sql.replace(self.extract_sql,
                           'SELECT * FROM extract_oracle ORDER BY doc_id, "offset"')

    def oracle(self, name):
        if name not in self.cache:
            self.cache[name] = self.con.execute(self.sql[name]).fetchdf()
        return self.cache[name]

    def light_oracle(self, name):
        if name not in self.cache:
            sql = self._embedded(self.sql[name])
            self.cache[name] = self.light.execute(sql).fetchdf()
        return self.cache[name]

    def exploded_spans(self, path):
        return self.con.execute(f"""
            SELECT doc_id, s.kind AS kind, s.text AS text,
                   s.media_ref AS media_ref, s."offset" AS "offset"
            FROM (SELECT doc_id, unnest(spans) AS s FROM {_pq(path)}
                  WHERE {self.not_heavy})
            ORDER BY doc_id, "offset" """).fetchdf()

    def sorted_rows(self, path, cols, where="true"):
        return self.con.execute(
            f"SELECT {', '.join(cols)} FROM {_pq(path)} WHERE {where} "
            f"ORDER BY doc_id").fetchdf()

    def _landed_rows(self, name, cols):
        expected = self.oracle(name)[cols]
        expected = expected[expected["doc_id"].isin(self.landed["doc_id"])]
        return expected.sort_values("doc_id").reset_index(drop=True)

    # -- one method per check kind; each returns (failed ops, message) --

    def oracle_query(self, c):
        actual = read_dir(c["dir"])
        if actual is None:
            return c["ops"], "no output"
        msg = compare(actual, self.oracle(c["query"]))
        return (c["ops"] if msg else 0), msg

    def ingest_spans(self, c):
        actual = self.exploded_spans(c["dir"])
        msg = compare(actual, self.light_oracle("extract_full")) if len(actual) else "no spans"
        return (c["ops"] if msg else 0), msg

    stream_extract = ingest_spans

    def ingest_llm(self, c):
        cols = ["doc_id", "llm_response", "formatted_response"]
        actual = self.sorted_rows(c["dir"], cols, where=self.not_heavy)
        msg = compare(actual, self.light_oracle("llm_pipeline")) if len(actual) else "no rows"
        if not msg:
            # the heavy documents have their one reply each too
            n, ids = self.con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) FROM {_pq(c['dir'])}").fetchone()
            want = len(actual) + self.n_heavy
            if n != want or ids != want:
                msg = f"{n} rows / {ids} ids, expected {want}"
        return (c["ops"] if msg else 0), msg

    stream_llm = ingest_llm

    def lookups(self, c):
        actual = read_dir(c["dir"])
        sql = self._embedded(self.sql["lookup_template"]).replace(
            "WHERE doc_id = '__PERFBENCH_ID__'",
            "WHERE doc_id IN (SELECT doc_id FROM lookup_ids)")
        ids = pd.DataFrame({"doc_id": sorted(set(actual["doc_id"]))})
        self.light.register("lookup_ids", ids)
        expected = self.light.execute(sql).fetchdf().set_index("doc_id")
        self.light.unregister("lookup_ids")
        bad, first = 0, None
        for _, row in actual.iterrows():
            want = expected.loc[[row.doc_id]].reset_index()
            msg = compare(pd.DataFrame([row]).reset_index(drop=True), want)
            if msg:
                bad += 1
                first = first or f"{row.doc_id}: {msg}"
        missing = c["ops"] - len(actual)
        if missing:
            first = first or f"{missing} lookups returned no row"
        return bad + max(missing, 0), first

    def stream_clean(self, c):
        cols = ["doc_id", "n_paras", "n_dropped", "clean_text"]
        msg = compare(self.sorted_rows(c["dir"], cols), self._landed_rows("corpus_clean", cols))
        return (c["ops"] if msg else 0), msg

    def stream_score(self, c):
        cols = ["doc_id", "n_words", "n_bigrams", "nll_micro_sum",
                "avg_nll_micro", "keep"]
        msg = compare(self.sorted_rows(c["dir"], cols),
                      self._landed_rows("text_lm_score_cross", cols))
        return (c["ops"] if msg else 0), msg

    def stream_dedup(self, c):
        # every streamed document exactly once; each content group has
        # exactly one keeper
        q = _pq(c["dir"])
        n_rows, n_ids, n_groups, n_keepers, bad_groups = self.con.execute(f"""
            SELECT count(*), count(DISTINCT doc_id), count(DISTINCT content_hash),
                   count(*) FILTER (WHERE NOT is_duplicate),
                   (SELECT count(*) FROM (SELECT content_hash FROM {q}
                      GROUP BY content_hash
                      HAVING count(*) FILTER (WHERE NOT is_duplicate) <> 1))
            FROM {q}""").fetchone()
        n_in = len(self.landed)
        if n_rows != n_in or n_ids != n_in:
            return c["ops"], f"{n_rows} rows / {n_ids} ids for {n_in} documents"
        if bad_groups or n_keepers != n_groups:
            return c["ops"], f"{bad_groups} content groups without exactly one keeper"
        return 0, None

    def _survivors(self, c, id_expr):
        # a curated survivor set: documents of the input, each at most
        # once, and at most one survivor per content hash
        q = _pq(c["dir"])
        n, ids, hashes, foreign = self.con.execute(f"""
            SELECT count(*), count(DISTINCT doc_id), count(DISTINCT text_hash),
                   count(*) FILTER (WHERE {id_expr} NOT IN (SELECT doc_id FROM landed))
            FROM {q}""").fetchone()
        if n == 0:
            return c["ops"], "no survivors"
        if ids != n or hashes != n or foreign:
            return c["ops"], (f"{n} rows, {ids} ids, {hashes} hashes, "
                              f"{foreign} ids not in the input")
        return 0, None

    def stream_corpus(self, c):
        return self._survivors(c, "CAST(substr(doc_id, 5) AS BIGINT)")

    def stream_curate(self, c):
        return self._survivors(c, "doc_id")

    def property(self, c):
        return (0, None) if c["ok"] else (c["ops"], c["name"])

    def run(self, checks):
        """Return (failed ops, messages) over all checks."""
        failed_by_op, msgs = {}, []
        for c in checks:
            bad, msg = getattr(self, c["kind"])(c)
            if bad:
                failed_by_op[c["op"]] = max(failed_by_op.get(c["op"], 0), bad)
                msgs.append(f"{c['op']} {c['kind']}: {msg}")
        return sum(failed_by_op.values()), msgs


def load_oracle_sql(path):
    with open(path) as fh:
        return json.load(fh)
