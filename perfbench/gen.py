"""Seeded input generator for the benchmark workloads.

Every value is a function of (seed, row index) through DuckDB's `hash`, so the
same seed always yields byte-identical tables: events-shaped pages
(`<dir>/pages/page-*.parquet`, which the benchmark lands one at a time in an
sf-style `events.parquet/` dir) and an sf-style `<dir>/documents.parquet`.
Inputs are cached per (workload, size, seed) under the benchmark's work dir;
`meta.json` records the sizes and shares every result reports.
"""
import json
import shutil
from pathlib import Path

import duckdb

# Row counts per size. `full` is what the benchmark measures; `tiny` is the
# smoke test's size.
SIZES = {
    "full": {"page_rows": 10_000, "pages": 6, "docs": 2_000},
    "tiny": {"page_rows": 2_000, "pages": 3, "docs": 400},
}

EVENT_TYPES = ["click", "view", "purchase", "signup", "error", "logout"]
# 2024-01-01T00:00:00Z in epoch millis: modified timestamps start here
T0_MS = 1_704_067_200_000
PAGE_WINDOW_MS = 60_000       # one incremental page = one minute of changes
PAGE_NEW_SHARE = 0.8          # the rest of a page re-emits earlier rows

# Corpus shares (of all documents).
EXACT_DUP_SHARE = 0.08
NEAR_DUP_SHARE = 0.08
LONG_SHARE = 0.03
FRENCH_SHARE = 0.04
LONG_PARTS = 4                # segments concatenated into one long doc
LONG_PART_WORDS = 40
REPEAT_SPAN_WORDS = 25        # the span every long doc repeats (> 128 chars)

VOCAB = (
    ["the", "the", "the", "a", "a", "of", "of", "and", "and", "to", "to",
     "is", "in", "it", "that", "with", "have", "be"]
    + ["spark", "table", "query", "column", "stream", "batch", "merge",
       "filter", "scan", "join", "order", "value", "vector", "engine",
       "worker", "record", "window", "cluster", "shuffle", "partition",
       "storage", "kernel", "planner", "schema", "commit", "reader",
       "writer", "sketch", "index", "token", "corpus", "signal", "market",
       "river", "garden", "silver", "harbor", "candle", "pepper", "thunder",
       "meadow", "lantern", "orbit", "canyon", "violet", "marble", "falcon",
       "ember", "glacier", "summit", "quartz", "willow"])
FRENCH = ["le", "la", "et", "les", "des", "un", "une", "pour", "avec",
          "dans", "sur", "maison", "jardin", "rivière", "lumière", "soleil"]


def _sql_list(words):
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


def _events_select(seed, ids_sql, modified_ms_sql):
    """Events-shaped rows: attributes derive from event_id, so a re-emitted
    (modified) row keeps its type, user and props and changes value/times."""
    types = _sql_list(EVENT_TYPES)
    return f"""
      SELECT event_id,
        make_timestamp(CAST(({modified_ms_sql}) - hash(event_id, {seed}, 1) % 600000
                            AS BIGINT) * 1000) AS ts,
        CAST(hash(event_id, {seed}, 2) % 5000 AS BIGINT) AS user_id,
        {types}[CAST(hash(event_id, {seed}, 3) % {len(EVENT_TYPES)} AS INT) + 1]
          AS event_type,
        round(CAST(hash(event_id, v, {seed}, 4) % 50000 AS DOUBLE) / 100.0, 2)
          AS value,
        '{{"k": ' || CAST(hash(event_id, {seed}, 5) % 100 AS VARCHAR) || '}}'
          AS props,
        strftime(make_timestamp(CAST({modified_ms_sql} AS BIGINT) * 1000),
                 '%Y-%m-%d %H:%M:%S.%f') || '+0000' AS modified_at
      FROM ({ids_sql})"""


def _gen_pages(con, out, seed, sz):
    rows, pages = sz["page_rows"], sz["pages"]
    new = int(rows * PAGE_NEW_SHARE)
    stage = out / "pages"
    stage.mkdir(parents=True)
    id_base = seed * 10_000_000
    for p in range(pages):
        # page 0 is all new rows; later pages re-emit earlier new rows
        n_new = rows if p == 0 else new
        ids = f"""
          SELECT CAST(CASE WHEN j < {n_new} THEN {id_base} + {p} * {rows} + j
                      ELSE {id_base} + (hash({p}, j, {seed}, 8) % {max(p, 1)}) * {rows}
                           + hash({p}, j, {seed}, 9) % {new} END AS BIGINT) AS event_id,
                 {p} AS v, j
          FROM range({rows}) t(j)"""
        mod = f"{T0_MS} + {p} * {PAGE_WINDOW_MS} + (j * {PAGE_WINDOW_MS}) // {rows}"
        con.execute(f"COPY ({_events_select(seed, ids, mod)}) "
                    f"TO '{stage}/page-{p:05d}.parquet' (FORMAT PARQUET)")
    return {"page_rows": rows, "pages": pages, "page_new_share": PAGE_NEW_SHARE,
            "t0_ms": T0_MS, "page_window_ms": PAGE_WINDOW_MS}


def _gen_corpus(con, out, seed, sz):
    m = sz["docs"]
    n_exact, n_near = int(m * EXACT_DUP_SHARE), int(m * NEAR_DUP_SHARE)
    n_long, n_fr = int(m * LONG_SHARE), int(m * FRENCH_SHARE)
    n_base = m - n_exact - n_near - n_long
    id_base = seed * 1_000_000
    vocab, fr = _sql_list(VOCAB), _sql_list(FRENCH)

    def words(key, n, lst, size):
        return (f"array_to_string(list_transform(range({n}), j -> {lst}"
                f"[CAST(hash({key}, j, {seed}, 11) % {size} AS INT) + 1]), ' ')")

    # the word lists ride along as columns: a list literal inside the
    # lambda would be rebuilt for every generated word
    con.execute(f"""CREATE TABLE base AS
      SELECT k, CASE WHEN k < {n_fr} THEN {words('k', 'n', 'fr', len(FRENCH))}
                     ELSE {words('k', 'n', 'vocab', len(VOCAB))} END AS text
      FROM (SELECT k, CAST(60 + hash(k, {seed}, 10) % 31 AS BIGINT) AS n
            FROM range({n_base}) t(k)),
           (SELECT {vocab} AS vocab, {fr} AS fr)""")
    span = f"(SELECT {words(-1, REPEAT_SPAN_WORDS, 'vocab', len(VOCAB))} FROM (SELECT {vocab} AS vocab))"
    # near-dups replace one word of distinct base docs (Jaccard >= ~0.9
    # on word 3-shingles); long docs are LONG_PARTS segments of fresh words
    # around one shared span: past 128 tokens the suffix array leaves its
    # full-suffix seed for the doubling loop, and the span is the repeat
    # the loop refines and span removal cuts
    con.execute(f"""CREATE TABLE docs AS
      SELECT k, text FROM base
      UNION ALL
      SELECT {n_base} + e, b.text
      FROM range({n_exact}) t(e) JOIN base b ON b.k = CAST(hash(e, {seed}, 12) % {n_base} AS BIGINT)
      UNION ALL
      SELECT {n_base + n_exact} + d, array_to_string(list_transform(
          string_split(b.text, ' '),
          (w, i) -> CASE WHEN i = pos THEN 'zephyr' ELSE w END), ' ')
      FROM (SELECT d, 1 + hash(d, {seed}, 13) % 60 AS pos FROM range({n_near}) t(d))
      JOIN base b ON b.k = d * {n_base // max(1, n_near)}
      UNION ALL
      SELECT {n_base + n_exact + n_near} + l,
        {words('l + 1000000', LONG_PARTS * LONG_PART_WORDS // 2, 'vocab', len(VOCAB))}
        || ' ' || span || ' ' ||
        {words('l + 2000000', LONG_PARTS * LONG_PART_WORDS // 2, 'vocab', len(VOCAB))}
      FROM range({n_long}) t(l), (SELECT {vocab} AS vocab, {span} AS span)""")
    con.execute(f"""COPY (
      SELECT CAST({id_base} + k AS BIGINT) AS doc_id, text,
        CASE WHEN k < {n_fr} THEN 'fr' ELSE 'en' END AS lang,
        'src' || CAST(hash(k, {seed}, 15) % 8 AS VARCHAR) AS source,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM docs ORDER BY k) TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    mean_chars = con.execute(
        f"SELECT avg(length(text)) FROM read_parquet('{out}/documents.parquet')"
    ).fetchone()[0]
    return {"docs": m, "exact_dup_share": EXACT_DUP_SHARE,
            "near_dup_share": NEAR_DUP_SHARE, "long_share": LONG_SHARE,
            "french_share": FRENCH_SHARE, "repeat_span_words": REPEAT_SPAN_WORDS,
            "long_doc_words": LONG_PARTS * LONG_PART_WORDS + REPEAT_SPAN_WORDS,
            "mean_chars": round(mean_chars, 1)}


GENERATORS = {"extract_incremental": _gen_pages, "corpus_dedup": _gen_corpus}


def ensure_inputs(cache_root, workload, size, seed, keep=2):
    """Generate (or reuse) the inputs of one (workload, size, seed); keeps
    the `keep` most recently used input sets per workload."""
    root = Path(cache_root)
    out = root / f"{workload}-{size}-{seed}"
    meta_path = out / "meta.json"
    if not meta_path.exists():
        tmp = root / f".tmp-{workload}-{size}-{seed}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(f"SET temp_directory = '{root / '.tmp'}'")
        meta = GENERATORS[workload](con, tmp, seed, SIZES[size])
        con.close()
        meta.update(workload=workload, size=size, seed=seed)
        meta["bytes"] = sum(p.stat().st_size for p in tmp.rglob("*") if p.is_file())
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    meta_path.touch()
    sets = sorted((p for p in root.glob(f"{workload}-*") if (p / "meta.json").exists()),
                  key=lambda p: (p / "meta.json").stat().st_mtime, reverse=True)
    for stale in sets[keep:]:
        shutil.rmtree(stale, ignore_errors=True)
    return out, json.loads(meta_path.read_text())
