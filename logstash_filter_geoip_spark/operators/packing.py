"""Training-batch preparation operators: sequence packing and deterministic
split assignment — the steps between curation (operators/curation.py) and
the tokenizer/trainer.

``pack_sequences`` implements concat-then-chunk packing (the standard
GPT-style recipe: concatenate every document's tokens plus an EOS separator
in a stable global order, then cut the stream into fixed-length training
sequences) as pure metadata: for each document, its global token offset and
the range of training sequences it lands in. The global running sum is the
whole problem at 100 TB — a naive ``Window.orderBy(...)`` with no partition
spec collapses the entire corpus into ONE reducer (`Exchange SinglePartition`
in the plan). Instead this is the classic distributed prefix sum:

  1. key each row by a doc_id block (``doc_id div docs_per_block``);
  2. one two-phase aggregate computes per-block token totals — the result
     is bounded by the block count (~152k rows at 10B docs on the default
     block size), which the driver turns into exclusive block prefixes and
     broadcasts back;
  3. a window partitioned BY BLOCK (parallel, bounded partitions) computes
     the intra-block running sum; block prefix + intra-block sum is the
     exact global offset.

No single-partition exchange anywhere (plan-tested); the only collect is the
per-block totals, bounded by ``docs_per_block`` by construction and guarded.

``split_assign`` derives train/valid/test membership from a salted 60-bit
md5 hash of the doc_id (functions/hashing.py — bit-identical in Spark,
DuckDB, and Python), so the split is a pure function of (doc_id, salt):
stable under reruns, re-partitioning, and corpus growth, and exactly
reproducible by the DuckDB oracle. This is the deterministic-subsampling /
holdout-split primitive every published pipeline uses in place of
``df.sample`` (whose output depends on partitioning).

``mix_corpus`` is the domain-reweighting step (Pile/DoReMi-style data
mixing): each source gets a target sampling rate; rate < 1 downsamples by a
deterministic hash gate on (doc_id, salt), rate > 1 upsamples by epoch
replication (floor(rate) full copies plus one fractional copy behind the
same gate). A pure per-row projection + bounded explode — NO shuffle, no
sampling nondeterminism; the fractional thresholds are precomputed integer
literals against the same 60-bit hash, so Spark, DuckDB, and Python agree
bit-for-bit on exactly which documents survive and how many epochs each
gets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logstash_filter_geoip_spark.functions.hashing import (md5_hash60,
                                                           md5_hash60_sql)
from logstash_filter_geoip_spark.operators.text_ops import TOKEN_RE
from logstash_filter_geoip_spark.sources.transcripts import load_table

# Block-prefix collect guard: 2^21 blocks (~2M driver rows) is far beyond
# any sane configuration — hitting it means docs_per_block is mis-sized for
# the corpus, so fail loudly instead of melting the driver.
_MAX_BLOCKS = 1 << 21


def pack_sequences(docs: DataFrame, seq_len: int = 2048, eos_tokens: int = 1,
                   docs_per_block: int = 1 << 16) -> DataFrame:
    """Concat-then-chunk sequence packing metadata.

    Documents are laid out in doc_id order, each contributing
    ``n_tokens + eos_tokens`` positions to one global token stream, which is
    chunked into training sequences of ``seq_len``. Returns one row per
    document: (doc_id, n_tokens, start_offset, first_seq, last_seq, n_seqs)
    where start_offset is the document's first position in the stream and
    [first_seq, last_seq] the training sequences it overlaps.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    if eos_tokens < 0:
        raise ValueError(f"eos_tokens must be >= 0, got {eos_tokens}")
    if docs_per_block <= 0:
        # a negative block size would silently REVERSE the prefix order
        # (doc_id DIV -k decreases as doc_id grows); zero divides by zero
        raise ValueError(
            f"docs_per_block must be positive, got {docs_per_block}")
    narrow = docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0))
         .cast("long").alias("n_tokens"))
    keyed = narrow.select(
        "doc_id", "n_tokens",
        (F.col("n_tokens") + F.lit(int(eos_tokens))).alias("cost"),
        F.expr(f"doc_id DIV {int(docs_per_block)}").alias("blk"))
    # Persist the narrow (~32 B/row) projection: the TOKEN_RE scan of every
    # document is the dominant cost, and both the totals job and the main
    # branch need it — without the cache the corpus is tokenized twice.
    # The cache lives as long as the returned plan; callers that are done
    # with it can `.unpersist()` via spark.catalog.clearCache() or by
    # persisting/writing the result. (Recompute would be *correct* — pure
    # projection, no nondeterminism — just twice the CPU.)
    keyed = keyed.persist()

    # Bounded per-block totals -> exclusive prefixes on the driver.
    totals = keyed.groupBy("blk").agg(F.sum("cost").alias("tot")).collect()
    if len(totals) > _MAX_BLOCKS:
        raise ValueError(
            f"pack_sequences: {len(totals)} doc_id blocks exceeds the "
            f"driver-collect guard ({_MAX_BLOCKS}); raise docs_per_block")
    totals.sort(key=lambda r: r["blk"])
    prefix_rows, acc = [], 0
    for r in totals:
        prefix_rows.append((r["blk"], acc))
        acc += r["tot"]
    spark = docs.sparkSession
    prefix = spark.createDataFrame(prefix_rows or [(0, 0)],
                                   "blk long, blk_prefix long")

    win = (Window.partitionBy("blk").orderBy("doc_id")
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    with_off = (keyed.join(F.broadcast(prefix), "blk")
                     .select("doc_id", "n_tokens", "cost",
                             (F.col("blk_prefix") + F.sum("cost").over(win)
                              - F.col("cost")).alias("start_offset")))
    return with_off.select(
        "doc_id", "n_tokens", "start_offset",
        F.expr(f"start_offset DIV {int(seq_len)}").alias("first_seq"),
        F.expr(f"(start_offset + cost - 1) DIV {int(seq_len)}")
         .alias("last_seq"),
        (F.expr(f"(start_offset + cost - 1) DIV {int(seq_len)}")
         - F.expr(f"start_offset DIV {int(seq_len)}") + F.lit(1))
        .alias("n_seqs"))


def split_assign(docs: DataFrame,
                 weights: tuple[tuple[str, int], ...] = (
                     ("train", 98), ("valid", 1), ("test", 1)),
                 salt: str = "corpus-v1") -> DataFrame:
    """Deterministic split membership: bucket = salted-md5(doc_id) mod the
    weight total; splits own contiguous bucket ranges in `weights` order.
    Pure function of (doc_id, salt) — stable across reruns and engines.
    """
    if not weights or any(w <= 0 for _, w in weights):
        raise ValueError(f"weights must be positive, got {weights!r}")
    total = sum(w for _, w in weights)
    key = F.concat(F.lit(f"split:{salt}:"), F.col("doc_id").cast("string"))
    bucket = F.pmod(md5_hash60(key), F.lit(total))
    expr, lo = None, 0
    for name, w in weights[:-1]:
        cond = bucket < F.lit(lo + w)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    last = weights[-1][0]
    split = F.lit(last) if expr is None else expr.otherwise(last)
    return docs.select("doc_id", bucket.alias("bucket"),
                       split.alias("split"))


SHUFFLE_SHARDS = 8
SHUFFLE_SALT = "shuffle-v1"


def global_shuffle(docs: DataFrame, n_shards: int = SHUFFLE_SHARDS,
                   salt: str = SHUFFLE_SALT) -> DataFrame:
    """Deterministic global training-order shuffle + sharding: every doc
    gets a salted 60-bit md5 sort key; shard = key mod n_shards; ``pos`` =
    the doc's rank within its shard under (key, id) order. Reading the
    shards in (shard, pos) order replays ONE fixed pseudo-random permutation
    of the corpus — a pure function of (id, salt), stable under
    repartitioning and reruns (``df.orderBy(rand())`` is neither), and a new
    salt is a fresh epoch permutation.

    Scale shape: one Exchange hash-partitioned on ``shard`` + a per-shard
    sort (each shard is corpus/n_shards — size n_shards so a shard fits an
    executor's spill budget, e.g. ~1k shards per 100 TB epoch). The hash key
    is uniform, so shards are balanced by construction — no skew, no salting
    needed, and shard files write straight out of the sorted partitions
    (partitionBy("shard") with ONE file per in-flight partition). Ties
    (60-bit collisions) break on the id, keeping the order total.
    """
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    key = md5_hash60(F.concat(F.lit(f"shuffle:{salt}:"),
                              F.col("doc_id").cast("string")))
    keyed = docs.select("doc_id", key.alias("sort_key"),
                        F.pmod(key, F.lit(n_shards)).cast("int")
                         .alias("shard"))
    w = Window.partitionBy("shard").orderBy("sort_key", "doc_id")
    return keyed.select("doc_id", "shard",
                        F.row_number().over(w).cast("int").alias("pos"),
                        "sort_key")


def global_shuffle_oracle_sql() -> str:
    """DuckDB mirror of global_shuffle: same salted key, same mod-sharding,
    same (key, id) rank."""
    k = md5_hash60_sql(
        f"'shuffle:{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH shkeys AS (
  SELECT doc_id, {k} AS sort_key FROM documents
)
SELECT doc_id,
       CAST(sort_key % {SHUFFLE_SHARDS} AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY sort_key % {SHUFFLE_SHARDS}
                               ORDER BY sort_key, doc_id) AS INT) AS pos,
       sort_key
FROM shkeys
"""


CURRICULUM_BANDS = (8, 32, 128)   # token-count band edges (ascending)
CURRICULUM_SHARDS = 4             # shards per band
CURRICULUM_SALT = "curriculum-v1"


def curriculum_order(docs: DataFrame,
                     band_edges: tuple[int, ...] = CURRICULUM_BANDS,
                     shards_per_band: int = CURRICULUM_SHARDS) -> DataFrame:
    """Deterministic curriculum ordering with a TRUE global position,
    computed scalably: docs band by token count (short → long, the
    easy-first curriculum staple; ``band`` = number of edges ≤ n_tok),
    shuffle pseudo-randomly WITHIN each band (salted md5 key — a new salt
    is a fresh epoch permutation), and emit ``global_pos`` — the doc's
    rank under the total order (band, shard, sort_key, doc_id) — without
    ever sorting globally: rank within (band, shard) + cumulative
    (band, shard) offsets.

    The offset arithmetic is the pack_sequences block-prefix design: the
    per-(band, shard) counts collect (len(edges)+1) × shards_per_band
    rows — argument-bounded, never data-sized — and join back as a
    broadcast. Parallelism = bands × shards (size shards_per_band so a
    shard fits an executor, the global_shuffle contract); the narrow
    keyed projection persists so the TOKEN_RE scan runs once, not once
    per job (counts + final). The oracle recomputes global_pos as ONE
    global row_number — pinning that the distributed offset arithmetic
    equals the genuine global rank. NULL text counts 0 tokens (coalesce,
    the truncate_context totality rule)."""
    if not band_edges or list(band_edges) != sorted(set(band_edges)) \
            or band_edges[0] <= 0:
        raise ValueError(f"band_edges must be ascending positive: "
                         f"{band_edges!r}")
    if shards_per_band < 1:
        raise ValueError(f"shards_per_band must be >= 1: {shards_per_band}")
    n_tok = F.size(F.regexp_extract_all(
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(TOKEN_RE), 0)).cast("long")
    band = None
    for e in band_edges:
        term = (n_tok >= F.lit(int(e))).cast("int")
        band = term if band is None else band + term
    key = md5_hash60(F.concat(F.lit(f"curr:{CURRICULUM_SALT}:"),
                              F.col("doc_id").cast("string")))
    # Cache lifetime (the pack_sequences convention): the persist spans the
    # counts collect below AND the caller's consumption of the returned
    # (lazy) frame — a caller done with it releases via
    # spark.catalog.clearCache() or by persisting/writing the result.
    # Recompute would be *correct* (the projection is deterministic), just
    # a second TOKEN_RE scan.
    keyed = docs.select(
        "doc_id", n_tok.alias("n_tok"), band.alias("band"),
        F.pmod(key, F.lit(int(shards_per_band))).cast("int").alias("shard"),
        key.alias("sort_key")).persist()
    counts = keyed.groupBy("band", "shard").count().collect()
    acc, offsets = 0, []
    for r in sorted(counts, key=lambda r: (r["band"], r["shard"])):
        offsets.append((r["band"], r["shard"], acc))
        acc += r["count"]
    spark = docs.sparkSession
    off = spark.createDataFrame(offsets or [(0, 0, 0)],
                                "band int, shard int, off long")
    w = Window.partitionBy("band", "shard").orderBy("sort_key", "doc_id")
    return (keyed.withColumn("pos", F.row_number().over(w).cast("int"))
                 .join(F.broadcast(off), ["band", "shard"])
                 .select("doc_id", "n_tok", "band", "shard", "pos",
                         (F.col("off") + F.col("pos") - 1)
                         .alias("global_pos")))


def curriculum_order_oracle_sql() -> str:
    """DuckDB mirror — global_pos is the INDEPENDENT global row_number
    under the same total order, so the operator's distributed offset
    arithmetic is checked against the genuine global rank."""
    k = md5_hash60_sql(
        f"'curr:{CURRICULUM_SALT}:' || CAST(doc_id AS VARCHAR)")
    band = " + ".join(f"CAST(n_tok >= {int(e)} AS INT)"
                      for e in CURRICULUM_BANDS)
    return f"""
WITH curr_tok AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(coalesce(text, ''), '{TOKEN_RE}'))
              AS BIGINT) AS n_tok,
         {k} AS sort_key
  FROM documents
),
curr_band AS (
  SELECT doc_id, n_tok, CAST({band} AS INT) AS band,
         CAST(sort_key % {CURRICULUM_SHARDS} AS INT) AS shard, sort_key
  FROM curr_tok
)
SELECT doc_id, n_tok, band, shard,
       CAST(row_number() OVER (PARTITION BY band, shard
                               ORDER BY sort_key, doc_id) AS INT) AS pos,
       CAST(row_number() OVER (ORDER BY band, shard, sort_key, doc_id) - 1
            AS BIGINT) AS global_pos
FROM curr_band
"""


_HASH_SPACE = 1 << 60  # md5_hash60 is uniform on [0, 2^60)


def _rate_to_copies(rate: float) -> tuple[int, int]:
    """(whole copies, fractional-gate threshold) for one sampling rate.

    The threshold is computed ONCE in Python and inlined as an integer
    literal into both engines' plans, so float rounding can never make
    Spark and the oracle disagree about a document's fate.
    """
    if rate < 0:
        raise ValueError(f"mix rate must be >= 0, got {rate}")
    base = int(rate)
    thr = int(round((rate - base) * _HASH_SPACE))
    return base, thr


def mix_corpus(docs: DataFrame, rates: dict[str, float],
               default_rate: float = 1.0, salt: str = "mix-v1") -> DataFrame:
    """Deterministic domain mixing: emit ``epoch`` copies of each doc so that
    every source hits its target sampling rate in expectation, with the
    fractional part decided by the salted md5 gate (never by ``df.sample``,
    whose output depends on partitioning). Rows whose copy count is 0 are
    dropped. Output: (doc_id, source, epoch) with epoch in [0, n_copies).
    """
    plan = {src: _rate_to_copies(r) for src, r in rates.items()}
    d_base, d_thr = _rate_to_copies(default_rate)
    # md5_hash60 is already uniform on [0, 2^60) — no fold needed.
    u = md5_hash60(
        F.concat(F.lit(f"mix:{salt}:"), F.col("doc_id").cast("string")))
    base_e, thr_e = None, None
    for src, (b, t) in sorted(plan.items()):
        cond = F.col("source") == src
        base_e = (F.when(cond, b) if base_e is None
                  else base_e.when(cond, b))
        thr_e = F.when(cond, t) if thr_e is None else thr_e.when(cond, t)
    base_c = F.lit(d_base) if base_e is None else base_e.otherwise(d_base)
    thr_c = F.lit(d_thr) if thr_e is None else thr_e.otherwise(d_thr)
    n_copies = (base_c + F.when(u < thr_c, 1).otherwise(0)).alias("n_copies")
    # Filter BEFORE sequence(): Spark infers step -1 when start > stop, so
    # sequence(0, -1) would yield [0, -1], not an empty array.
    return (docs.select("doc_id", "source",
                        n_copies)
                .where(F.col("n_copies") > 0)
                .select("doc_id", "source",
                        F.explode(F.sequence(
                            F.lit(0), F.col("n_copies") - 1)).alias("epoch")))


def mix_corpus_oracle_sql(rates: dict[str, float], default_rate: float = 1.0,
                          salt: str = "mix-v1") -> str:
    """DuckDB mirror of mix_corpus over the ``documents`` view."""
    d_base, d_thr = _rate_to_copies(default_rate)
    base_cases, thr_cases = [], []
    for src, r in sorted(rates.items()):
        b, t = _rate_to_copies(r)
        base_cases.append(f"WHEN source = '{src}' THEN {b}")
        thr_cases.append(f"WHEN source = '{src}' THEN CAST({t} AS BIGINT)")
    base = (f"CASE {' '.join(base_cases)} ELSE {d_base} END"
            if base_cases else str(d_base))
    thr = (f"CASE {' '.join(thr_cases)} ELSE CAST({d_thr} AS BIGINT) END"
           if thr_cases else f"CAST({d_thr} AS BIGINT)")
    u = md5_hash60_sql(f"'mix:{salt}:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH c AS (
  SELECT doc_id, source,
         ({base}) + CASE WHEN {u} < {thr} THEN 1 ELSE 0 END AS n_copies
  FROM documents
)
SELECT doc_id, source, CAST(epoch AS INT) AS epoch
FROM c, unnest(generate_series(0, n_copies - 1)) AS t(epoch)
WHERE n_copies > 0
"""


def chunk_documents(docs: DataFrame, chunk_tokens: int = 32,
                    overlap: int = 8) -> DataFrame:
    """Sliding-window document chunking (the RAG / long-context prep step,
    distinct from ``pack_sequences``' concat-then-chunk): split each doc
    into ``chunk_tokens``-token windows that overlap by ``overlap``.

    Start rule (one definition, mirrored in the oracle): starts at every
    ``stride = chunk_tokens - overlap`` step while the start still
    introduces tokens past the previous chunk's overlap region
    (``start <= n_tokens - overlap - 1``); the last chunk may be short but
    every token is covered (max start >= n_tokens - chunk_tokens by
    construction). Empty docs yield no chunks.

    Scale: pure per-row codegen — tokenize once below the Generate (the
    explode is a physical barrier, so the TOKEN_RE scan is NOT re-inlined
    at the slice reference), sequence+slice+array_join are all compiled
    expressions (no HOF lambdas, no Python, no shuffle)."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(f"need 0 <= overlap < chunk_tokens, got "
                         f"{overlap} / {chunk_tokens}")
    stride = chunk_tokens - overlap
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit(TOKEN_RE), 0).alias("tk"))
    toks = toks.withColumn("n", F.size("tk")).where(F.col("n") > 0)
    starts = F.sequence(F.lit(0),
                        F.greatest(F.col("n") - (overlap + 1), F.lit(0)),
                        F.lit(stride))
    ex = toks.select("doc_id", "tk", "n", F.explode(starts).alias("start"))
    return ex.select(
        "doc_id",
        F.expr(f"CAST(start div {stride} AS BIGINT)").alias("chunk_idx"),
        F.col("start").cast("long").alias("chunk_start"),
        F.least(F.lit(chunk_tokens), F.col("n") - F.col("start"))
         .cast("long").alias("n_tokens"),
        F.array_join(F.slice("tk", F.col("start") + 1, chunk_tokens), " ")
         .alias("chunk_text"))


def chunk_documents_oracle_sql(chunk_tokens: int = 32, overlap: int = 8,
                               table: str = "documents") -> str:
    stride = chunk_tokens - overlap
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS tk,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n
  FROM {table}
), ex AS (
  SELECT doc_id, tk, n,
         unnest(generate_series(0, GREATEST(n - {overlap + 1}, 0),
                                {stride})) AS start
  FROM toks WHERE n > 0
)
SELECT doc_id,
       CAST(start // {stride} AS BIGINT) AS chunk_idx,
       CAST(start AS BIGINT) AS chunk_start,
       CAST(LEAST({chunk_tokens}, n - start) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(tk, start + 1, start + {chunk_tokens}),
                       ' ') AS chunk_text
FROM ex
"""


def training_corpus(docs: DataFrame, bench: DataFrame,
                    chunk_tokens: int = 32, overlap: int = 8,
                    weights: tuple[tuple[str, int], ...] = (
                        ("train", 98), ("valid", 1), ("test", 1)),
                    salt: str = "corpus-v1") -> DataFrame:
    """The end-to-end training-corpus pass: curation (clean_corpus's
    quality + language + repetition + exact-dedup + decontamination kept
    flag) → the ``train`` split → sliding-window chunks, ONE
    declarative plan.

    Scale shape: both gates are doc_id LEFT SEMI joins (no fan-out, the
    natural key the corpus would be bucketed by at rest); the split gate
    is a pure hash function of doc_id so it adds no state of its own;
    chunking stays a per-row projection. Nothing here is new machinery —
    the pass IS its three pieces, and the oracle is composed from their
    oracles verbatim, so the composition can never drift from them."""
    from logstash_filter_geoip_spark.operators.curation import clean_corpus
    kept = (clean_corpus(docs, bench)
            .where(F.col("kept") == 1).select("doc_id"))
    in_split = (split_assign(docs, weights=weights, salt=salt)
                .where(F.col("split") == "train").select("doc_id"))
    selected = (docs.join(kept, "doc_id", "left_semi")
                    .join(in_split, "doc_id", "left_semi"))
    return chunk_documents(selected, chunk_tokens=chunk_tokens,
                           overlap=overlap)


def split_assign_oracle_sql(weights=(('train', 98), ('valid', 1),
                                    ('test', 1)),
                            salt: str = "corpus-v1") -> str:
    total = sum(w for _, w in weights)
    key_expr = f"'split:{salt}:' || CAST(doc_id AS VARCHAR)"
    bucket = f"{md5_hash60_sql(key_expr)} % {total}"
    cases, lo = [], 0
    for name, w in weights[:-1]:
        cases.append(f"WHEN bucket < {lo + w} THEN '{name}'")
        lo += w
    return f"""
WITH b AS (
  SELECT doc_id, {bucket} AS bucket FROM documents
)
SELECT doc_id, bucket,
       CASE {' '.join(cases)} ELSE '{weights[-1][0]}' END AS split
FROM b
"""


def training_corpus_oracle_sql() -> str:
    # composed verbatim from the component oracles (the clean_corpus
    # pattern): the end-to-end pass can never drift from its pieces.
    from logstash_filter_geoip_spark.operators.curation import (
        oracles as curation_oracles)
    clean = curation_oracles()["clean_corpus"]
    split = split_assign_oracle_sql(SPLIT_WEIGHTS, SPLIT_SALT)
    chunks = chunk_documents_oracle_sql(CHUNK_TOKENS, CHUNK_OVERLAP,
                                        table="train_docs")
    return f"""
WITH clean_kept AS (SELECT doc_id FROM ({clean}) cc WHERE kept = 1),
in_split AS (SELECT doc_id FROM ({split}) ss WHERE split = 'train'),
train_docs AS (
  SELECT d.* FROM documents d
  JOIN clean_kept USING (doc_id)
  JOIN in_split USING (doc_id)
)
SELECT * FROM ({chunks}) chunks
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

PACK_SEQ_LEN = 2048
PACK_EOS = 1
SPLIT_WEIGHTS = (("train", 98), ("valid", 1), ("test", 1))
SPLIT_SALT = "corpus-v1"
# Driver mixing rates exercise every branch: upsample with a fractional
# epoch (2.5), pure downsample (0.2), hard drop (0.0), and the default.
MIX_RATES = {"src0": 2.5, "src1": 0.2, "src2": 0.0}
MIX_DEFAULT = 1.0
MIX_SALT = "mix-v1"
CHUNK_TOKENS = 32
CHUNK_OVERLAP = 8
# the SAME driver benchmark subset curation's decontaminate query uses —
# imported so the composed pass and the component stay in lockstep
from logstash_filter_geoip_spark.operators.curation import (  # noqa: E402
    _BENCH_PRED_SQL as _CURATION_BENCH_SQL)


def queries():
    return {
        "pack_sequences": lambda s, d: pack_sequences(
            load_table(s, d, "documents"), seq_len=PACK_SEQ_LEN,
            eos_tokens=PACK_EOS),
        "split_assign": lambda s, d: split_assign(
            load_table(s, d, "documents"), weights=SPLIT_WEIGHTS,
            salt=SPLIT_SALT),
        "mix_corpus": lambda s, d: mix_corpus(
            load_table(s, d, "documents"), MIX_RATES, default_rate=MIX_DEFAULT,
            salt=MIX_SALT),
        "doc_chunks": lambda s, d: chunk_documents(
            load_table(s, d, "documents"), chunk_tokens=CHUNK_TOKENS,
            overlap=CHUNK_OVERLAP),
        "training_corpus": lambda s, d: training_corpus(
            load_table(s, d, "documents"),
            load_table(s, d, "documents").where(_CURATION_BENCH_SQL),
            chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP,
            weights=SPLIT_WEIGHTS, salt=SPLIT_SALT),
        "shuffle_shard": lambda s, d: global_shuffle(
            load_table(s, d, "documents")),
        "curriculum_order": lambda s, d: curriculum_order(
            load_table(s, d, "documents")),
    }


def oracles() -> dict[str, str]:
    n, eos = PACK_SEQ_LEN, PACK_EOS
    # DuckDB's window sum over BIGINT yields HUGEINT; cast every output.
    pack = rf"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT)
           AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         sum(n_tokens + {eos}) OVER (
           ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(cum - (n_tokens + {eos}) AS BIGINT) AS start_offset,
       CAST((cum - (n_tokens + {eos})) // {n} AS BIGINT) AS first_seq,
       CAST((cum - 1) // {n} AS BIGINT) AS last_seq,
       CAST((cum - 1) // {n} - (cum - (n_tokens + {eos})) // {n} + 1
            AS BIGINT) AS n_seqs
FROM c
"""
    split = split_assign_oracle_sql(SPLIT_WEIGHTS, SPLIT_SALT)
    return {"pack_sequences": pack, "split_assign": split,
            "training_corpus": training_corpus_oracle_sql(),
            "doc_chunks": chunk_documents_oracle_sql(CHUNK_TOKENS,
                                                     CHUNK_OVERLAP),
            "mix_corpus": mix_corpus_oracle_sql(
                MIX_RATES, default_rate=MIX_DEFAULT, salt=MIX_SALT),
            "shuffle_shard": global_shuffle_oracle_sql(),
            "curriculum_order": curriculum_order_oracle_sql()}
