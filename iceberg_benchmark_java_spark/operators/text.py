"""Text-analysis operators for training-data curation.

All metrics are pure JVM column expressions (split / regexp / aggregate) —
no Python UDFs in the hot path — and every ratio is rounded to a fixed
scale so results are engine- and partitioning-deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

RATIO_SCALE = 6

# Tiny in-corpus stopword sets used by the language-ID heuristic. The
# fixture corpus is synthetic (English-ish vocabulary with a lang label),
# so the heuristic is calibrated to its vocabulary; for real corpora swap
# in per-language n-gram tables.
EN_MARKERS = ("the", "a", "of", "and")


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the reference tokenizer for counting)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column, markers: tuple[str, ...] = EN_MARKERS) -> Column:
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*markers)))
    return hits / F.size(toks)


def quality_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc quality metrics: length, token stats, stopword ratio, a
    composite quality score, and a quality bucket."""
    t = F.col("text")
    n_tok = token_count(t)
    avg_tok_len = (F.length(F.regexp_replace(t, r"\s+", "")) / n_tok)
    sw = stopword_ratio(t)
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.5
        + F.least(sw * 5.0, F.lit(1.0)) * 0.3
        + F.least(avg_tok_len / 8.0, F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        "lang",
        F.length(t).alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.round(avg_tok_len, RATIO_SCALE).alias("avg_token_len"),
        F.round(sw, RATIO_SCALE).alias("stopword_ratio"),
        F.round(score, RATIO_SCALE).alias("quality_score"),
    )


def quality_filter_decision(docs: DataFrame) -> DataFrame:
    """Gopher-style composite rule filter: every document is scored against
    a fixed battery of named heuristic rules and gets a keep/drop decision
    plus the machine-readable reasons — the decision table a curation run
    materializes before dropping anything (auditability beats in-place
    filtering at corpus scale).

    Rules (trip = reject): too_few_tokens (<20), too_many_tokens (>90),
    low_stopword (<0.02), high_stopword (>0.12), bad_token_len (mean
    non-ws chars/token outside [3, 8]), repetitious (distinct-3-gram
    ratio < 0.99 — boilerplate proxy).

    Scale shape: ONE narrow projection — every metric including the
    distinct-shingle ratio is a per-row array expression (split /
    transform / array_distinct), so the pass has ZERO shuffles and no
    Python (plan-asserted). All ratios are exact integer divisions, so the
    threshold comparisons are engine-identical.
    """
    t = F.col("text")
    words = tokens(t)
    n_tok = F.size(words)
    sw = F.size(F.filter(words, lambda w: w.isin(*EN_MARKERS))) / n_tok
    atl = F.length(F.regexp_replace(t, r"\s+", "")) / n_tok
    nsh = F.greatest(n_tok - 2, F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), nsh),
        lambda i: F.concat_ws(" ", F.slice(words, i, 3)),
    )
    dr = F.size(F.array_distinct(shingles)) / nsh
    rules = [
        ("too_few_tokens", n_tok < 20),
        ("too_many_tokens", n_tok > 90),
        ("low_stopword", sw < 0.02),
        ("high_stopword", sw > 0.12),
        ("bad_token_len", (atl < 3.0) | (atl > 8.0)),
        ("repetitious", dr < 0.99),
    ]
    fails = sum(
        (cond.cast("int") for _, cond in rules), F.lit(0)
    )
    reasons = F.concat(
        *[
            F.when(cond, F.lit(name + ";")).otherwise(F.lit(""))
            for name, cond in rules
        ]
    )
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        *[cond.alias(name) for name, cond in rules],
        fails.cast("int").alias("n_rules_failed"),
        reasons.alias("reasons"),
        (fails == 0).alias("keep"),
    )


def predict_lang(col: Column) -> Column:
    """Marker-stopword language-ID heuristic: high English-marker density →
    'en', else 'other'. (n-gram-table LID reduces to the same
    explode/score/argmax plan shape.)"""
    return F.when(stopword_ratio(col) >= 0.05, F.lit("en")).otherwise(F.lit("other"))


def langid_confusion(docs: DataFrame) -> DataFrame:
    """Confusion counts of predicted vs labeled language."""
    return (
        docs.select(F.col("lang").alias("actual"), predict_lang(F.col("text")).alias("predicted"))
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
    )


def fingerprint(col: Column) -> Column:
    """Normalization fingerprint: lowercase, tokenize, distinct, sort,
    md5 — robust to word order and repetition (the classic fingerprint
    dedup key)."""
    toks = F.array_sort(F.array_distinct(tokens(F.lower(col))))
    return F.md5(F.array_join(toks, " "))


def fingerprint_clusters(docs: DataFrame) -> DataFrame:
    """Groups of docs sharing a normalization fingerprint (>1 member)."""
    return (
        docs.select(fingerprint(F.col("text")).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


def chunk_documents(
    docs: DataFrame, chunk_size: int = 50, stride: int = 40
) -> DataFrame:
    """Split each document into overlapping fixed-size token windows — the
    standard chunking step that turns variable-length documents into
    training-sequence candidates (stride < chunk_size gives the overlap
    that preserves cross-boundary context).

    Pure column expressions (sequence → transform/slice → explode): a
    narrow, embarrassingly parallel transformation with no shuffle at all —
    exactly what the 100 TB chunking pass must be. Output: one row per
    (doc_id, chunk_idx) with the chunk text and its token count; the final
    short chunk is kept (truncation policy belongs downstream).
    """
    toks = tokens(F.col("text"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_idx"),
            F.slice(toks, s, chunk_size).alias("_ctoks"),
        ),
    )
    c = F.explode(chunks).alias("c")
    return docs.select("doc_id", c).select(
        "doc_id",
        F.col("c.chunk_idx").cast("int").alias("chunk_idx"),
        F.size("c._ctoks").cast("int").alias("n_tokens"),
        F.array_join("c._ctoks", " ").alias("chunk_text"),
    )


def pattern_hit_stats(
    docs: DataFrame, patterns: dict[str, str]
) -> DataFrame:
    """Corpus-wide sensitive-pattern scan: for each named regex, the number
    of documents with ≥1 match and the total match count. The PII-scrub
    front of a data release — in production the patterns are email / phone
    / SSN / credential regexes; the machinery (JVM-side regexp_count, one
    narrow pass, one tiny rollup per pattern, union of P one-row frames)
    is identical for any pattern set. No Python UDFs; the scan is one pass
    over text per pattern and would fold into a single pass with a
    struct-of-counts projection at 100 TB.
    """
    if not patterns:
        raise ValueError("pattern_hit_stats requires at least one pattern")
    parts = []
    for name, pat in sorted(patterns.items()):
        hits = F.regexp_count(F.col("text"), F.lit(pat))
        parts.append(
            docs.select(hits.alias("h")).agg(
                F.lit(name).alias("pattern"),
                F.sum((F.col("h") > 0).cast("long")).alias("n_docs_with_hits"),
                F.sum("h").alias("total_hits"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def shard_of(doc_id: Column, n_shards: int) -> Column:
    """Deterministic, engine-portable shard id in [0, n_shards): the 60-bit
    integer value of md5(doc_id)'s first 15 hex chars, mod n_shards. md5 is
    identical in every engine (DuckDB mirror: the same hex→int fold), and
    the 60-bit value is non-negative so ``pmod`` == ``%``."""
    h60 = F.conv(
        F.substring(F.md5(doc_id.cast("string")), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h60, F.lit(n_shards)).cast("int")


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    group_cols: tuple[str, ...] = ("lang",),
    n_shards: int = 1,
) -> DataFrame:
    """Greedy sequence packing: within each group, documents (ordered by
    doc_id) fill training bins of ``capacity`` tokens; a doc that would
    overflow starts the next bin (an oversized doc occupies a bin alone).
    Returns (group_cols..., doc_id, n_tokens[, shard], bin_id) — the packing
    plan a sequence-builder materializes.

    Packing is inherently sequential WITHIN a bin stream, so this is a
    legitimate applyInPandas case — but only the per-group scan is Python,
    and only (group, doc_id, n_tokens) crosses the Arrow boundary (token
    counting stays JVM-side).

    ``n_shards`` is the 100 TB dial: with ``n_shards > 1`` a deterministic
    ``shard`` column (md5(doc_id) mod n — :func:`shard_of`) is folded into
    the group key, so one popular group (e.g. lang='en' over a whole corpus)
    splits into n bounded sequential scans that pack in parallel across
    executors instead of one unbounded Arrow group. Expected group size is
    |group| / n_shards — size n to taste (rows_per_group ≈ 1-10M). The
    packing remains deterministic: shard membership depends only on doc_id.
    """
    import pandas as pd

    from pyspark.sql.types import IntegerType, StructField, StructType

    gcols = list(group_cols)
    slim = docs.select(
        *gcols, "doc_id", token_count(F.col("text")).cast("int").alias("n_tokens")
    )
    if n_shards > 1:
        slim = slim.withColumn("shard", shard_of(F.col("doc_id"), n_shards))
        gcols = gcols + ["shard"]
    out_schema = StructType(
        [f for f in slim.schema.fields] + [StructField("bin_id", IntegerType())]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = -1, capacity + 1  # forces a new bin on the first doc
        for n in pdf["n_tokens"]:
            if fill + n <= capacity:
                fill += n
            else:
                bin_id += 1
                fill = n
            bins.append(bin_id)
        pdf["bin_id"] = pd.Series(bins, dtype="int32")
        return pdf

    return slim.groupBy(*gcols).applyInPandas(pack, out_schema)


def textrank_keywords(
    docs: DataFrame, iterations: int = 3, damping: float = 0.85, k: int = 20
) -> DataFrame:
    """TextRank keyword extraction: weighted PageRank over the token
    co-occurrence graph (nodes = tokens, symmetric edges = adjacent-token
    pairs weighted by corpus bigram count), ``iterations`` fixed power
    iterations at the given damping, top-``k`` tokens by final rank.

    rank_{t+1}(v) = (1-d)/N + d * sum_{u->v} (c_uv / W_out(u)) * rank_t(u)

    Engine-stable determinism: every per-edge contribution and every rank
    is rounded to 12 dp and carried as DECIMAL(28,12), so the
    cross-partition sums are associative (order-independent) and the same
    numbers fall out of any engine; double subexpressions ((1-d)/N, the
    edge transition probabilities, the d*s products) are IEEE ops identical
    across JVM and C engines. Ties in the final top-k break on token.

    Shape at 100 TB: the graph is vocabulary-sized, not corpus-sized — one
    bigram-keyed count collapses the data-sized pass, after which each
    iteration is one src-keyed broadcast-sized join + one dst-keyed
    aggregation over |V| rows. The rank frontier is localCheckpoint'd per
    iteration so lineage stays flat (same discipline as
    dedup.connected_components).

    Out: token, rank (double), ordered rank desc / token asc, k rows.
    """
    words = F.split(F.trim(F.col("text")), r"\s+")
    base = docs.select(words.alias("toks")).filter(F.size("toks") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.element_at("toks", i).alias("w1"),
            F.element_at("toks", i + 1).alias("w2"),
        ),
    )
    b = base.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    und = b.union(b.select(F.col("w2").alias("w1"), F.col("w1").alias("w2")))
    counts = und.groupBy("w1", "w2").agg(
        F.count("*").cast("double").alias("c")
    )
    outw = counts.groupBy("w1").agg(F.sum("c").alias("wout"))
    edges = (
        counts.join(outw, "w1")
        .select(
            F.col("w1").alias("src"),
            F.col("w2").alias("dst"),
            (F.col("c") / F.col("wout")).alias("p"),
        )
        .localCheckpoint(eager=False)
    )
    nodes = edges.select(F.col("src").alias("token")).distinct()
    n = nodes.count()
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)
    ranks = nodes.select(
        "token",
        F.round(F.lit(1.0) / F.lit(n), 12).cast("decimal(28,12)").alias("rank"),
    )
    for _ in range(iterations):
        contribs = (
            edges.join(ranks.withColumnRenamed("token", "src"), "src")
            .select(
                F.col("dst").alias("token"),
                F.round(F.col("p") * F.col("rank").cast("double"), 12)
                .cast("decimal(28,12)")
                .alias("contrib"),
            )
            .groupBy("token")
            .agg(F.sum("contrib").alias("s"))
        )
        ranks = (
            nodes.join(contribs, "token", "left")
            .select(
                "token",
                F.round(
                    teleport
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                    12,
                )
                .cast("decimal(28,12)")
                .alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        ranks.select("token", F.col("rank").cast("double").alias("rank"))
        .orderBy(F.desc("rank"), "token")
        .limit(k)
    )


def bpe_merges(docs: DataFrame, n_merges: int = 5):
    """Distributed BPE tokenizer training: learn the first ``n_merges``
    byte-pair-encoding merge rules from corpus word frequencies. Per step:
    count adjacent symbol pairs weighted by word frequency, adopt the most
    frequent pair (ties: count desc, then (lhs, rhs) lexicographic), and
    apply it greedily left-to-right inside every word — the exact
    Sennrich et al. 2016 training loop.

    Shape at 100 TB: the corpus-sized pass is ONE groupBy collapsing the
    token stream to the (word, freq) vocabulary; every iteration after
    that runs on vocabulary-sized data (pair count = one aggregation,
    merge application = a per-row JVM ``aggregate`` fold over the symbol
    array — no Python, no shuffle). Per step a single 1-row top-1 reaches
    the driver (same discipline as the k-means iteration), and the symbol
    frontier is localCheckpoint'd so lineage stays flat.

    Returns a 1-partition DataFrame of the learned merge table:
    (step int, lhs string, rhs string, pair_count long).
    """
    spark = docs.sparkSession
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("freq", F.split("word", "").alias("syms"))
        .localCheckpoint(eager=False)
    )
    learned: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i).alias("lhs"),
                            F.element_at("syms", i + 1).alias("rhs"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "lhs", "rhs").limit(1).collect()
        if not top:
            break
        a, b, c = top[0].lhs, top[0].rhs, int(top[0].c)
        learned.append((step, a, b, c))
        merged = F.lit(a + b)
        vocab = vocab.select(
            "freq",
            F.when(
                F.size("syms") >= 2,
                F.aggregate(
                    "syms",
                    F.expr("CAST(array() AS ARRAY<STRING>)"),
                    lambda acc, x: F.when(
                        (F.size(acc) > 0)
                        & (F.element_at(acc, F.lit(-1)) == F.lit(a))
                        & (x == F.lit(b)),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ),
            )
            .otherwise(F.col("syms"))
            .alias("syms"),
        ).localCheckpoint(eager=False)
    return spark.createDataFrame(
        learned, schema="step int, lhs string, rhs string, pair_count long"
    )


def _bpe_fold(a: str, b: str):
    """The greedy left-to-right BPE merge of adjacent (a, b) -> a+b as a
    pure JVM ``aggregate`` fold over a symbol array — the identical
    expression bpe_merges trains with, shared so encode can never drift
    from training semantics."""
    merged = F.lit(a + b)

    def apply(syms_col):
        return F.when(
            F.size(syms_col) >= 2,
            F.aggregate(
                syms_col,
                F.expr("CAST(array() AS ARRAY<STRING>)"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, F.lit(-1)) == F.lit(a))
                    & (x == F.lit(b)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ),
        ).otherwise(syms_col)

    return apply


def bpe_encode(docs: DataFrame, n_merges: int = 5) -> DataFrame:
    """Tokenize the corpus with a just-trained BPE table: learn the first
    ``n_merges`` merge rules (bpe_merges), apply them IN TRAINING ORDER to
    the vocabulary via the same greedy JVM fold, and report per-document
    token accounting — the train→encode round trip every tokenizer
    pipeline runs before sequence packing.

    Shape at 100 TB: training's corpus pass is one groupBy (see
    bpe_merges); encoding never touches documents symbol-by-symbol —
    the merge folds run over the VOCABULARY only, and the per-doc pass is
    one explode + a broadcast join of the (word -> n_bpe) table + one
    doc_id aggregate. The merge table itself (n_merges rows) is the only
    thing driver-side.

    Out: doc_id, n_words, n_chars, n_bpe_tokens, compression (6dp
    chars-per-token).
    """
    rules = [
        (r.lhs, r.rhs)
        for r in sorted(bpe_merges(docs, n_merges).collect(), key=lambda r: r.step)
    ]
    tok = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    vocab = (
        tok.select("word")
        .distinct()
        .select("word", F.split("word", "").alias("syms"))
    )
    for a, b in rules:
        vocab = vocab.select(
            "word", _bpe_fold(a, b)(F.col("syms")).alias("syms")
        )
    enc = vocab.select("word", F.size("syms").cast("long").alias("n_bpe"))
    return (
        tok.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).alias("n_chars"),
            F.sum("n_bpe").alias("n_bpe_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_bpe_tokens",
            F.round(F.col("n_chars") / F.col("n_bpe_tokens"), 6).alias(
                "compression"
            ),
        )
    )


def typo_pairs(docs: DataFrame, max_dist: int = 2) -> DataFrame:
    """Vocabulary typo/variant mining via FastSS deletion neighborhoods
    (Bocek et al. 2007): all distinct word pairs within Levenshtein
    distance <= 2, found WITHOUT the quadratic vocab self-join. Each word
    emits its <= 2-deletion neighborhood (the word, every 1-char
    deletion, every 2-char deletion); two words at edit distance <= 2
    provably share a neighborhood member, so an equi-join on the variant
    key generates a lossless candidate superset and the exact
    ``levenshtein`` verify keeps true pairs only.

    Scale shape: the corpus pass is one groupBy collapsing tokens to the
    (word, freq) vocabulary; the neighborhood fanout is ~len^2/2 per
    VOCAB entry (not per occurrence); candidates are bounded by words
    sharing a variant — at web vocabulary the dial is a min-length /
    max-neighborhood-df guard on the variant key, same role as
    ngram_jaccard's max_df. Frequencies ride along so downstream can
    flag low-freq-near-high-freq words as typo candidates.

    Out: word_a, word_b, dist, freq_a, freq_b.
    """
    if max_dist != 2:
        raise ValueError("FastSS neighborhood generated for max_dist=2 only")
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    vocab = tok.groupBy("w").agg(F.count("*").alias("freq"))
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("w")),
            F.expr(
                "transform(sequence(1, length(w)), i ->"
                " concat(substring(w, 1, i-1), substring(w, i+1)))"
            ),
            F.flatten(
                F.expr(
                    "transform(sequence(1, length(w)), j ->"
                    " transform(sequence(1, greatest(j-1, 1)), i ->"
                    "  CASE WHEN i < j THEN"
                    "   concat(substring(w, 1, i-1),"
                    "          substring(w, i+1, j-i-1), substring(w, j+1))"
                    "  ELSE concat(substring(w, 1, j-1), substring(w, j+1))"
                    "  END))"
                )
            ),
        )
    )
    nv = vocab.select(
        "w", "freq", F.explode(variants).alias("variant")
    )
    cand = (
        nv.select(
            F.col("w").alias("word_a"),
            F.col("freq").alias("freq_a"),
            "variant",
        )
        .join(
            nv.select(
                F.col("w").alias("word_b"),
                F.col("freq").alias("freq_b"),
                "variant",
            ),
            "variant",
        )
        .filter(F.col("word_a") < F.col("word_b"))
        .select("word_a", "word_b", "freq_a", "freq_b")
        .distinct()
    )
    return cand.filter(
        F.levenshtein("word_a", "word_b") <= max_dist
    ).select(
        "word_a",
        "word_b",
        F.levenshtein("word_a", "word_b").cast("long").alias("dist"),
        "freq_a",
        "freq_b",
    )
