"""Physical-layout and pipeline-hygiene operators: Bloom-style
semi-join reduction (the runtime-filter pattern made explicit),
leakage-safe train/validation splitting, and Z-order layout keys.

These are the three layout disciplines a 100 TB deployment leans on:

- **Semi-join reduction**: before shuffling a 100 TB fact table into a
  join, build a compact membership filter from the (filtered) build
  side and probe it map-side on the fact scan, so non-matching rows
  never enter the exchange. Spark's AQE injects exactly this
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) but neither
  exposes the filter nor its false-positive accounting; this operator
  makes both first-class and *measures* the FP rate exactly.
- **Leakage-safe splits**: train/validation assignment keyed on the
  duplicate-group representative, not the row — the only split
  discipline under which held-out data stays held out when the corpus
  contains near/exact duplicates (test-set contamination).
- **Z-order**: interleaved-bit layout keys so that range predicates on
  *either* dimension prune files (the Delta/Iceberg OPTIMIZE ZORDER
  discipline); the query reports per-file min/max envelopes — the
  exact statistics data-skipping consults.

Scale notes:
- bloom build = one distinct on the *filtered dim* (tiny) + a driver
  collect bounded by the filter's bit count (``_BLOOM_M`` = 2^17
  positions → a 16 KiB filter) — the same driver-sized artifact
  Spark's own runtime bloom filter materializes. The fact side is
  probed by a map-only expression: zero fact shuffle before the
  output-sized aggregate.
- split = two window passes over the same digest-keyed exchange
  (Catalyst plans one Exchange, both Windows reuse it) + an
  output-sized agg.
- z-order = map-only integer arithmetic per row, one agg keyed by
  file_id (≤ 64 groups → output-sized).

Hash discipline: all buckets/positions derive from md5 hex arithmetic
(Horner nibble folds) — bit-identical in Spark and DuckDB, so every
query here hash-matches the oracle exactly (no RNG, no engine hash).
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_join_scaling_spark.functions import text as tx
from flink_join_scaling_spark.plans.registry import query
from flink_join_scaling_spark.sources.catalog import load_table

_HEX = "0123456789abcdef"

# ------------------------------------------------------------------ hex
# first-8-nibble md5 → 32-bit int, same construct as the simhash/token
# hash family (llmdata.py): Spark conv(); DuckDB Horner over strpos.


def _hex8_spark(s: Column) -> Column:
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def _hex8_duck(col: str, offset: int = 0) -> str:
    """Horner fold of 8 hex nibbles of an md5-hex column, starting
    after ``offset`` nibbles."""
    def nib(i: int) -> str:
        return f"(strpos('{_HEX}', substr({col}, {offset + i}, 1)) - 1)"

    v = nib(1)
    for i in range(2, 9):
        v = f"({v} * 16 + {nib(i)})"
    return v


# ---------------------------------------------- bloom semi-join reduce

_BLOOM_M = 1 << 17  # filter positions (bits) → 16 KiB as bytes
_BLOOM_K = 3  # hash probes per key


def _bloom_positions_spark(key: Column) -> list[Column]:
    """k positions from ONE md5: disjoint 8-nibble slices — the same
    hash-family discipline as the MinHash signatures (one digest,
    sliced), cutting the per-row hash cost k-fold vs k salted md5s."""
    h = F.md5(key.cast("string"))
    return [
        F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("bigint") % _BLOOM_M
        for j in range(_BLOOM_K)
    ]


def _bit_at(bits: bytes, pos: Column) -> Column:
    """Probe bit ``pos`` of the filter, encoded as a BinaryType
    literal (LSB-first within each byte): O(1) byte slice + hex fold.

    Encoding matters enormously here — two plausible alternatives are
    per-row scale-killers, measured at sf0.1 (600k probes):
    - a hex STRING literal probed with ``substr(pos)``: Spark's
      UTF8String substring walks bytes from the start to find char
      boundaries, so every probe re-scans O(m) — 19 s/pass;
    - ``F.lit([ints])``: builds a ``CreateArray`` with m child
      expressions evaluated PER ROW (it is an array constructor, not a
      literal) — 22 s/pass.
    A ``bytes`` literal is a single BinaryType Literal; ``substr`` on
    binary is a direct byte slice — 2 s/pass, md5-dominated."""
    byte = F.conv(
        F.hex(F.lit(bits).substr((pos / 8).cast("int") + 1, F.lit(1))), 16, 10
    ).cast("int")
    mask = F.element_at(
        F.array(*[F.lit(1 << i) for i in range(8)]),
        (pos % 8).cast("int") + 1,
    )
    return F.floor(byte / mask).cast("int") % 2


def _bloom_oracle() -> str:
    pos_cols = ", ".join(
        f"({_hex8_duck('h', 8 * j)}) % {_BLOOM_M} AS p{j}"
        for j in range(_BLOOM_K)
    )
    dpos_union = "\n        UNION ALL ".join(
        f"SELECT ({_hex8_duck('h', 8 * j)}) % {_BLOOM_M} AS pos FROM dh"
        for j in range(_BLOOM_K)
    )
    passes = " AND ".join(
        f"(p{j} IN (SELECT pos FROM dpos))" for j in range(_BLOOM_K)
    )
    return f"""
    WITH dimk AS (SELECT DISTINCT o_orderkey AS k FROM orders
                  WHERE o_orderpriority = '1-URGENT'),
    dh AS (SELECT md5(CAST(k AS VARCHAR)) AS h FROM dimk),
    dpos AS (SELECT DISTINCT pos FROM (
        {dpos_union}) u),
    fh AS (SELECT l_orderkey, l_quantity,
               md5(CAST(l_orderkey AS VARCHAR)) AS h
           FROM lineitem),
    fp AS (SELECT l_orderkey, l_quantity, {pos_cols} FROM fh),
    flag AS (SELECT l_quantity,
                    ({passes}) AS passes_filter,
                    (l_orderkey IN (SELECT k FROM dimk)) AS is_match
             FROM fp)
    SELECT passes_filter, is_match,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(l_quantity) AS BIGINT) AS total_qty
    FROM flag
    GROUP BY passes_filter, is_match
    ORDER BY passes_filter DESC, is_match DESC
    """


@query(
    "q_join_bloom_reduced",
    oracle=_bloom_oracle(),
)
def q_join_bloom_reduced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via an engine-independent Bloom-style
    filter, with its false-positive rate measured *exactly*.

    Build side: urgent orders' keys hashed k=3 ways into m=2^17
    positions (md5 Horner — deterministic across engines, unlike
    Spark's internal ``BloomFilterAggregate``). The set-bit positions
    are collected (bounded by m — the filter itself, the same
    driver-sized artifact AQE's runtime bloom filter ships) and
    re-encoded as a bytes literal that the fact scan probes map-side
    with O(1) byte slicing (see ``_bit_at`` for why the encoding is
    load-bearing). The output cross-tabulates
    filter-pass vs true-match: the (false, true) cell is structurally
    empty (no false negatives — the Bloom guarantee), and the
    (true, false) cell is the measured false-positive traffic the
    filter would admit into the join exchange at 100 TB.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    dimk = (
        orders.where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    # Filter build: one job over the filtered dim; result bounded by m
    # positions (≤ 131072 ints = _BLOOM_M; the filter itself is 16 KiB
    # as bytes) — the runtime-filter build stage. The k-way md5 Horner
    # runs in the map above the position-distinct, which inherits the
    # key-distinct's AQE-coalesced output (r17 sweep: 3 tasks, 0.8 s of
    # CPU) — pin the key exchange so the hash map keeps the session's
    # parallelism (post-distinct rows: no partial-agg loss).
    from flink_join_scaling_spark.partitioning import pin_partitioning

    dpos = pin_partitioning(dimk, "k").select(
        F.explode(F.array(*_bloom_positions_spark(F.col("k")))).alias("pos")
    ).distinct()
    set_bits = {r.pos for r in dpos.collect()}
    buf = bytearray(_BLOOM_M // 8)
    for b in set_bits:
        buf[b // 8] |= 1 << (b % 8)
    bits = bytes(buf)

    # stage the k positions as named columns so each md5 is computed
    # once per row (an inline reuse would re-evaluate the hash per
    # reference under interpreted fallback); widen first — the probe
    # pass is md5-bound compute inheriting the scan's few splits at
    # bench scale (no-op at real scale)
    from flink_join_scaling_spark.partitioning import widen_if_narrow

    staged = widen_if_narrow(li.select("l_quantity", "l_orderkey")).select(
        "l_quantity",
        F.col("l_orderkey").alias("fk"),
        *[
            p.alias(f"__p{j}")
            for j, p in enumerate(_bloom_positions_spark(F.col("l_orderkey")))
        ],
    )
    passes = reduce(
        lambda a, c: a & c,
        [_bit_at(bits, F.col(f"__p{j}")) == 1 for j in range(_BLOOM_K)],
    )
    flagged = staged.select(
        "l_quantity",
        passes.alias("passes_filter"),
        "fk",
    ).join(
        F.broadcast(dimk.withColumn("__hit", F.lit(True))),
        F.col("fk") == F.col("k"),
        "left",
    )
    return (
        flagged.select(
            "l_quantity",
            "passes_filter",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("is_match"),
        )
        .groupBy("passes_filter", "is_match")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_quantity").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.desc("passes_filter"), F.desc("is_match"))
    )


# ------------------------------------------------- leakage-safe split

_TRAIN_PCT = 90

#: 4-nibble md5 bucket of the group representative, 0..65535 (same
#: construct as corpus.py's sampling bucket, applied to ``rep``).
_REP_BUCKET_DUCK = (
    "((strpos('{hx}', substr(rh, 1, 1)) - 1) * 4096"
    " + (strpos('{hx}', substr(rh, 2, 1)) - 1) * 256"
    " + (strpos('{hx}', substr(rh, 3, 1)) - 1) * 16"
    " + (strpos('{hx}', substr(rh, 4, 1)) - 1))"
).format(hx=_HEX)

_NORM_DUCK = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


@query(
    "q_split_leakage_safe",
    oracle=f"""
    WITH h AS (SELECT doc_id, source, sha256({_NORM_DUCK}) AS th
               FROM documents),
    g AS (SELECT doc_id, source, th,
                 min(doc_id) OVER (PARTITION BY th) AS rep
          FROM h),
    s AS (SELECT doc_id, source, th,
                 CASE WHEN ({_REP_BUCKET_DUCK.replace('rh', "md5(CAST(rep AS VARCHAR))")}) % 100
                           < {_TRAIN_PCT}
                      THEN 'train' ELSE 'valid' END AS split
          FROM g),
    t AS (SELECT *,
                 min(split) OVER (PARTITION BY th) AS lo,
                 max(split) OVER (PARTITION BY th) AS hi
          FROM s)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT th) AS BIGINT) AS n_groups,
           CAST(count(DISTINCT CASE WHEN lo <> hi THEN th END) AS BIGINT)
               AS n_leaked_groups
    FROM t
    GROUP BY split
    ORDER BY split
    """,
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware train/validation split: assignment is a
    deterministic hash of the duplicate group's *representative*
    (min doc_id per normalized-content digest), so exact duplicates can
    never straddle the split — the contamination mode a naive
    row-hash split has at any dup rate. ``n_leaked_groups`` *computes*
    (not asserts) the straddle count; it must be 0 per split.

    One digest-keyed exchange: both windows (rep, leak check) and the
    split expression reuse the same partitioning; the final agg is
    output-sized (2 rows)."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", "source", F.sha2(tx.norm_text(F.col("text")), 256).alias("th")
    )
    w = Window.partitionBy("th")
    g = h.withColumn("rep", F.min("doc_id").over(w))
    bucket = F.conv(
        F.substring(F.md5(F.col("rep").cast("string")), 1, 4), 16, 10
    ).cast("bigint")
    s = g.withColumn(
        "split",
        F.when(bucket % 100 < _TRAIN_PCT, F.lit("train")).otherwise(
            F.lit("valid")
        ),
    )
    t = s.withColumn("lo", F.min("split").over(w)).withColumn(
        "hi", F.max("split").over(w)
    )
    return (
        t.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("th").alias("n_groups"),
            F.countDistinct(
                F.when(F.col("lo") != F.col("hi"), F.col("th"))
            ).alias("n_leaked_groups"),
        )
        .orderBy("split")
    )


# ------------------------------------------------------------ z-order

_Z_BITS = 8  # bits per dimension → 16-bit z-value
_Z_FILES = 64  # target file count; 16-bit z space / 64 = 1024 z per file


def _z_value_spark(x: Column, y: Column) -> Column:
    terms = []
    for j in range(_Z_BITS):
        terms.append(F.shiftleft(F.shiftright(x, j).bitwiseAND(F.lit(1)), 2 * j))
        terms.append(
            F.shiftleft(F.shiftright(y, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
    return reduce(add, terms)


def _z_value_duck(x: str, y: str) -> str:
    terms = []
    for j in range(_Z_BITS):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH e AS (SELECT CAST(user_id % 256 AS BIGINT) AS x,
                      CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 60000000) % 256
                           AS BIGINT) AS y
               FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    z AS (SELECT x, y, CAST({_z_value_duck('x', 'y')} AS BIGINT) AS zval
          FROM e)
    SELECT CAST(zval // {(1 << (2 * _Z_BITS)) // _Z_FILES} AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max,
           CAST(count(DISTINCT x) AS BIGINT) AS n_users
    FROM z
    GROUP BY file_id
    ORDER BY file_id
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over events: interleave 8 bits of
    user bucket with 8 bits of minute bucket, split the z space into
    64 equal ranges ("files"), and report each file's min/max envelope
    on *both* dimensions — the statistics data-skipping consults. The
    payoff vs sorting by either column alone: both envelopes stay
    narrow, so predicates on either dimension prune files.

    Map-only integer bit arithmetic per row (whole-stage codegen), one
    output-sized agg (≤ 64 groups). At 100 TB the same z-value is the
    ``repartitionByRange`` key that writes the clustered files."""
    ev = load_table(spark, sf_dir, "events")
    # Floor division in pure integer arithmetic: pmod keeps the
    # adjusted numerator an exact multiple, so `div` (truncating) IS
    # floor — matching DuckDB's `//` for pre-1970 timestamps too,
    # where `us - us % m` would truncate toward zero instead.
    minute = F.expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 60000000)) div 60000000"
    )
    e = ev.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull()).select(
        (F.col("user_id") % 256).cast("bigint").alias("x"),
        (minute % 256).cast("bigint").alias("y"),
    )
    z = e.select("x", "y", _z_value_spark(F.col("x"), F.col("y")).alias("zval"))
    per_file = (1 << (2 * _Z_BITS)) // _Z_FILES
    return (
        z.groupBy((F.col("zval") / per_file).cast("bigint").alias("file_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.min("x").alias("x_min"),
            F.max("x").alias("x_max"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.countDistinct("x").alias("n_users"),
        )
        .orderBy("file_id")
    )
