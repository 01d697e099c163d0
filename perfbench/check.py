"""Output checks: each workload's output reduced to order-independent hashes
(row count + sum of DuckDB `hash` over the rows) and compared with the same
reduction of a DuckDB oracle over the same generated inputs.

The corpus oracle chains the catalog's own oracles (`recipe_pretrain_funnel`'s
stage CTEs, `dedup_minhash`, `suffix_spans_remove`), which the JVM copies from
`graft.queries.Catalog` into its result file. The extraction oracles follow
the `pipeline_e2e` and `sink_*_shape` entries for the benchmark's spec and
templates (full-record sinks).
"""
from pathlib import Path

import duckdb

FILTER = "event_type = 'click' OR event_type = 'view' OR event_type = 'purchase'"
MODIFIED_MS = "epoch_ms(strptime(modified_at, '%Y-%m-%d %H:%M:%S.%f%z'))"
RECORD_JSON = ("CAST(to_json(struct_pack(event_id := event_id, user_id := user_id, "
               "event_type := event_type, amount := amount, props := props, "
               "modified_at := modified_at, derived := derived)) AS VARCHAR)")

# Per sink: (oracle over `extracted`, columns compared, columns as written).
SINKS = {
    "kafka": (
        """SELECT CAST(user_id AS VARCHAR) AS key,
             '{"id": ' || CAST(event_id AS VARCHAR) || ', "type": "' || event_type
             || '", "amount": ' || CAST(amount AS VARCHAR) || ', "derived": "'
             || derived || '", "modified": ' || CAST(modified_at AS VARCHAR) || '}' AS value,
             t.topic
           FROM extracted CROSS JOIN (VALUES ('t1'), ('t2')) AS t(topic)""",
        "key, value, topic",
        "{'key': 'VARCHAR', 'value': 'VARCHAR', 'topic': 'VARCHAR', 'partition': 'INTEGER'}"),
    "s3": (
        f"SELECT 'events/' || CAST(event_id AS VARCHAR) || '.json' AS s3key, {RECORD_JSON} AS body "
        "FROM extracted",
        "s3key, body", "{'s3key': 'VARCHAR', 'body': 'VARCHAR'}"),
    "rds": (
        "SELECT 'INSERT INTO events_t (id, doc) VALUES (''' || CAST(event_id AS VARCHAR) "
        f"|| ''', ''' || {RECORD_JSON} || ''')' AS insert_sql FROM extracted",
        "insert_sql", "{'insert_sql': 'VARCHAR'}"),
    "json": (f"SELECT {RECORD_JSON} AS line FROM extracted", "line", "{'line': 'VARCHAR'}"),
}


def connect(tmp):
    con = duckdb.connect()  # runs after the JVM has exited: every core is free
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def digest(con, sql):
    """(rows, order-independent hash) of a query's rows."""
    n, h = con.execute(f"SELECT count(*), coalesce(sum(hash(q)), 0) FROM ({sql}) q").fetchone()
    return int(n), int(h)


def _extracted(con, files):
    src = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""CREATE OR REPLACE TABLE extracted AS
      SELECT event_id, user_id, event_type, value AS amount,
        struct_pack(k := CAST(json_extract_string(props, '$.k') AS BIGINT)) AS props,
        CAST({MODIFIED_MS} AS BIGINT) AS modified_at,
        event_type || '#' || CAST(user_id AS VARCHAR) AS derived
      FROM read_parquet([{src}])
      WHERE {FILTER}""")


def _relation(sink, out_dir):
    """The rows a sink wrote under `out_dir`, as a DuckDB table function."""
    d = Path(out_dir, sink)
    columns = SINKS[sink][2]
    if sink == "s3":
        return f"read_json('{d}/part-*', format='newline_delimited', columns={columns})"
    if sink == "json":
        return (f"read_csv('{d}/part-*', columns={columns}, header=false, "
                "delim='\x01', quote='', escape='', auto_detect=false)")
    # the manifest sink: only the files its manifest names are committed output
    names = [ln.split("\t")[0] for ln in (d / "_MANIFEST.tsv").read_text().splitlines() if ln]
    files = ", ".join(f"'{d / n}'" for n in names)
    return (f"read_csv([{files}], columns={columns}, header=false, "
            "delim='\t', quote='', escape='', nullstr='\\N', auto_detect=false)")


def _sink_reader(sink, out_dir):
    return f"SELECT {SINKS[sink][1]} FROM {_relation(sink, out_dir)}"


def _expected(con):
    return {s: digest(con, SINKS[s][0]) for s in SINKS}


def _got(con, out_dir):
    got = {}
    for s in SINKS:
        try:
            got[s] = digest(con, _sink_reader(s, out_dir))
        except (duckdb.Error, OSError) as e:
            got[s] = ("unreadable", str(e)[:200])
    if got["kafka"][0] != "unreadable":
        # no partition weights are configured: the broker picks (NULL)
        (n_part,) = con.execute(
            f"SELECT count(partition) FROM {_relation('kafka', out_dir)}").fetchone()
        if n_part:
            got["kafka"] = ("partition set", n_part)
    return got


def check_incremental(result, input_dir, tmp):
    con = connect(tmp)
    pages = result["report"]["pages"]
    want = []
    for p in pages:
        _extracted(con, [p])
        want.append(_expected(con))
    # the bulk extraction of the final table (every landed page)
    _extracted(con, pages)
    attempted = failed = 0
    mismatches = []
    dup = missing = 0
    for tag, deltas in result["report"]["phases"].items():
        if tag == "warmup":
            continue  # untimed; its deltas repeat the timed ones
        cycles = {}
        for d in deltas:
            got = _got(con, d["dir"])
            ok = got == want[d["page"]]
            if not ok:
                mismatches.append({"phase": tag, "delta": d["dir"], "got": got,
                                   "want": want[d["page"]]})
            attempted += 1
            failed += 0 if ok else 1
            cycles.setdefault(d["cycle"], []).append(d)
        # the union of a complete cycle's deltas must equal the extraction of
        # the final table: compared as multisets on the rds sink (one row
        # per extracted record)
        for c, ds in cycles.items():
            if len(ds) < len(pages):
                continue
            union_rds = " UNION ALL ".join(f"({_sink_reader('rds', d['dir'])})" for d in ds)
            d_dup, d_missing = con.execute(f"""
              WITH got AS (SELECT insert_sql, count(*) AS n FROM ({union_rds}) g GROUP BY 1),
                   want AS (SELECT insert_sql, count(*) AS n FROM ({SINKS['rds'][0]}) w GROUP BY 1)
              SELECT coalesce(sum(greatest(coalesce(got.n, 0) - coalesce(want.n, 0), 0)), 0),
                     coalesce(sum(greatest(coalesce(want.n, 0) - coalesce(got.n, 0), 0)), 0)
              FROM got FULL OUTER JOIN want USING (insert_sql)""").fetchone()
            dup += int(d_dup)
            missing += int(d_missing)
            if d_dup or d_missing:
                # only possible after a per-delta check failed: not counted again
                mismatches.append({"phase": tag, "cycle": c, "rows_duplicated": int(d_dup),
                                   "rows_missing": int(d_missing)})
    layers = {"streaming.rows_duplicated": float(dup), "streaming.rows_missing": float(missing)}
    return {"attempted": attempted, "failed": failed, "mismatches": mismatches}, layers


def check_corpus(result, input_dir, tmp):
    con = connect(tmp)
    oracles = result["report"]["oracles"]
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{input_dir}/documents.parquet')")
    funnel = oracles["recipe_pretrain_funnel"]
    stage_ctes = funnel[:funnel.rindex("SELECT source, count(*) AS n_raw")]
    con.execute(f"""CREATE TABLE survivors AS
      SELECT d.doc_id, d.text FROM documents d
      JOIN ({stage_ctes} SELECT doc_id FROM s4 WHERE surv_c) s USING (doc_id)""")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM survivors")
    con.execute(f"CREATE TABLE pairs AS {oracles['dedup_minhash']}")
    con.execute("""CREATE TABLE near AS SELECT * FROM survivors
      WHERE doc_id NOT IN (SELECT id_b FROM pairs)""")
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM near")
    spans = oracles["suffix_spans_remove"].rsplit("ORDER BY", 1)[0]
    want = digest(con, f"SELECT doc_id, clean_text, n_removed FROM ({spans})")
    attempted = failed = 0
    mismatches = []
    for tag, phase in result["report"]["phases"].items():
        try:
            got = digest(con, f"SELECT doc_id, clean_text, n_removed FROM "
                              f"read_parquet('{phase['dir']}/clean/*.parquet')")
        except duckdb.Error as e:
            got = ("unreadable", str(e)[:200])
        n_batches = result["phase_batches"][tag]
        attempted += n_batches
        if got != want:
            failed += n_batches
            mismatches.append({"phase": tag, "got": got, "want": want})
    return {"attempted": attempted, "failed": failed, "mismatches": mismatches}, {}


CHECKS = {"extract_incremental": check_incremental, "corpus_dedup": check_corpus}
