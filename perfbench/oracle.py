"""Correctness gates: canonical row hashes of engine results compared
against DuckDB over the same generated parquet, plus the pure-Python
checks the dedup tail needs. Everything here runs outside the timed
region."""

from __future__ import annotations

import hashlib

import duckdb

NULL = "\\N"


def _digest(row_hashes) -> tuple[int, str]:
    hs = sorted(row_hashes)
    return len(hs), hashlib.sha256("".join(hs).encode()).hexdigest()


def spark_digest(df) -> tuple[int, str]:
    """(row count, order-insensitive digest) of a Spark frame: each row
    is md5 of its columns cast to string, nulls as ``\\N``."""
    from pyspark.sql import functions as F

    row = F.md5(F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit(NULL))
                                   for c in df.columns]))
    return _digest(df.select(row.alias("h")).toPandas()["h"])


def duck(con: duckdb.DuckDBPyConnection, sql: str) -> list[tuple]:
    return con.sql(sql).fetchall()


def duck_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    """The same digest of a DuckDB query, hashing each row the same way
    (integer and string columns, whose casts to text agree)."""
    rel = con.sql(sql)
    n = len(rel.columns)
    cols = ", ".join(f"coalesce(CAST(#{i + 1} AS VARCHAR), '{NULL}')" for i in range(n))
    return _digest(h for (h,) in duck(con, f"SELECT md5(concat_ws('|', {cols})) FROM ({sql})"))


def connect(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """DuckDB views over parquet directories."""
    con = duckdb.connect()
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


# ------------------------------------------------------- versioned joins


def latest(t: str) -> str:
    return f"(SELECT * FROM {t} QUALIFY row_number() OVER (PARTITION BY id ORDER BY ts DESC) = 1)"


def _csv(alias: str) -> str:
    return f"array_to_string(list_sort(list(CAST({alias}.id AS VARCHAR) || ':' || CAST({alias}.ts AS VARCHAR))), ',')"


#: DuckDB form of each batch op, in the canonical column order the
#: Spark side is projected to (see workloads.batch.canonical)
BATCH_SQL = {
    "dedup_latest": f"SELECT id, ida, ts, tag, val FROM {latest('b')}",
    "join_full_outer": f"""
        SELECT a.id, a.ts, a.tag, a.val, b.id, b.ida, b.ts, b.tag, b.val
        FROM {latest('a')} a FULL OUTER JOIN {latest('b')} b ON a.id = b.ida""",
    "join_left_outer": f"""
        SELECT a.id, a.ts, a.tag, a.val, b.id, b.ida, b.ts, b.tag, b.val
        FROM {latest('a')} a LEFT OUTER JOIN {latest('b')} b ON a.id = b.ida""",
    "join_left_outer_seq": f"""
        SELECT b.id, b.ida, b.ts, b.tag, b.val, coalesce(g.ys, '') AS ys
        FROM {latest('b')} b LEFT OUTER JOIN (
            SELECT c.idb, {_csv('c')} AS ys FROM {latest('c')} c GROUP BY c.idb
        ) g ON b.id = g.idb""",
    "join_full_outer_seq": f"""
        SELECT coalesce(ga.id, gb.ida) AS key, coalesce(ga.xs, '') AS xs,
               coalesce(gb.ys, '') AS ys
        FROM (SELECT a.id, {_csv('a')} AS xs FROM {latest('a')} a GROUP BY a.id) ga
        FULL OUTER JOIN (SELECT b.ida, {_csv('b')} AS ys FROM {latest('b')} b GROUP BY b.ida) gb
        ON ga.id = gb.ida""",
}


# ---------------------------------------------------------- near-dup


def minhash_pairs_sql(num_hashes: int, band_size: int, shingle_n: int, threshold: float) -> str:
    """The MinHash+LSH pipeline in DuckDB with the engine's hash family
    (8-hex slices of md5(shingle) and md5('#' || shingle), band bucket =
    md5 of the '|'-joined slice) and exact Jaccard verification."""
    src = ("shingle", "'#' || shingle")
    sig = ", ".join(
        f"min(substr(md5({src[k // 4]}), {1 + 8 * (k % 4)}, 8)) AS h{k}"
        for k in range(num_hashes)
    )
    gram = " || ' ' || ".join(f"t[i + {d + 1}]" for d in range(shingle_n))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5("
        + " || '|' || ".join(f"h{k}" for k in range(b * band_size, (b + 1) * band_size))
        + ") AS band_hash FROM sigs"
        for b in range(num_hashes // band_size)
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs),
    sh AS (
        SELECT DISTINCT doc_id, unnest(list_transform(range(len(t) - {shingle_n - 1}),
            i -> {gram})) AS shingle
        FROM toks WHERE len(t) >= {shingle_n}
    ),
    sigs AS (SELECT doc_id, {sig}, count(*) AS n FROM sh GROUP BY doc_id),
    bands AS ({bands}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    ),
    sha AS (SELECT sh.doc_id, sh.shingle FROM sh SEMI JOIN (
        SELECT id_a AS doc_id FROM cand UNION SELECT id_b FROM cand) u ON sh.doc_id = u.doc_id),
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c JOIN sha a ON a.doc_id = c.id_a
        JOIN sha b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, round(n_inter / (sa.n + sb.n - n_inter), 6) AS jaccard
    FROM inter i JOIN sigs sa ON sa.doc_id = i.id_a JOIN sigs sb ON sb.doc_id = i.id_b
    WHERE round(n_inter / (sa.n + sb.n - n_inter), 6) >= {threshold}
    """


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """node -> min member id of its connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def dedup_survivors(all_ids: list[int], quality: dict[int, int],
                    comp: dict[int, int]) -> set[int]:
    """Ids kept by the dedup: everyone except each component's members
    other than its best (highest quality, then lowest id) member."""
    best: dict[int, int] = {}
    for n, c in comp.items():
        b = best.get(c)
        if b is None or (-quality[n], n) < (-quality[b], b):
            best[c] = n
    losers = {n for n, c in comp.items() if best[c] != n}
    return {i for i in all_ids if i not in losers}
