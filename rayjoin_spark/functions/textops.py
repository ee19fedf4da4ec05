"""Text-analysis + deduplication operators for training-data pipelines.

These are the graft additions beyond the reference's spatial operators:
exact dedup, MinHash/LSH near-dup, SimHash, n-gram Jaccard, dedup
clustering (connected components), language-ID
heuristic, quality scoring, token counting, document fingerprinting.

Design constraints:
* pure `pyspark.sql.functions` column expressions (JVM, codegen) — no UDFs;
* every hash is md5-hex-string based so an independent SQL engine (the
  DuckDB oracle) reproduces results bit-for-bit: MinHash signatures are
  *string minima* of salted md5 hex digests, which are total-ordered the
  same everywhere;
* shuffles: one groupBy per signature; the LSH candidate join is an
  equi-join on band key (hash-partitioned, broadcast-free, skew-safe
  because band keys are md5-uniform).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def _tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def token_count(df: DataFrame, text: str = "text") -> DataFrame:
    """Whitespace token count + distinct-token count per document."""
    toks = _tokens(F.col(text))
    return df.withColumn("n_tokens", F.size(toks)).withColumn(
        "n_distinct_tokens", F.size(F.array_distinct(toks))
    )


def quality_score(df: DataFrame, text: str = "text") -> DataFrame:
    """Heuristic quality in [0,1]: length, alpha ratio, stopword ratio,
    mean token length band. Deterministic double arithmetic."""
    t = F.col(text)
    n_chars = F.length(t).cast("double")
    alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    toks = _tokens(t)
    n_tok = F.size(toks).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda x: F.lower(x).isin(STOPWORDS))
    ).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = alpha / F.greatest(n_chars, F.lit(1.0))
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1.0))
    # no rounding: the raw IEEE double is bit-identical across engines,
    # while round-half tie handling is not
    score = (
        F.lit(0.4) * len_score
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.3) * F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
    )
    return df.withColumn("quality", score)


def lang_id(df: DataFrame, text: str = "text") -> DataFrame:
    """Stopword-profile language guess (en/de/fr heuristic; 'und' unknown)."""
    profiles = {
        "en": ["the", "and", "of", "to", "is"],
        "de": ["der", "die", "und", "das", "ist"],
        "fr": ["le", "la", "et", "les", "est"],
    }
    toks = _tokens(F.lower(F.col(text)))

    def _hit_counter(words):
        # NB: the lambda must be single-arg — a two-arg HOF lambda is
        # interpreted by Spark as (element, index)
        return F.size(F.filter(toks, lambda x: x.isin(words)))

    hits = {lang: _hit_counter(words) for lang, words in profiles.items()}
    best = F.greatest(*hits.values())
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["de"] == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return df.withColumn("lang_guess", guess)


def fingerprint(df: DataFrame, text: str = "text") -> DataFrame:
    """Canonical document fingerprint: md5 of lowercased
    whitespace-collapsed text."""
    norm = F.lower(F.regexp_replace(F.trim(F.col(text)), r"\s+", " "))
    return df.withColumn("fingerprint", F.md5(F.encode(norm, "UTF-8")))


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text: str = "text") -> DataFrame:
    """Exact dedup by content hash: one canonical row (min id) per distinct
    text; hash-groupBy, map-side partial agg."""
    h = F.md5(F.encode(F.col(text), "UTF-8"))
    return (
        df.withColumn("content_hash", h)
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 9,
    num_hashes: int = 8,
) -> DataFrame:
    """MinHash signature, one md5 per shingle: the hash family is the 8
    hex-ROTATIONS of a single digest (h_j = rotate-left by 4j hex chars),
    i.e. orderings by different 16-bit digest windows — the classic
    "permutations of one base hash" trick, portable to any SQL engine as
    string minima. All num_hashes minima come out of ONE groupBy (8 agg
    columns, map-side partial agg) instead of an 8x row explosion.
    Output: (id, j, minhash)."""
    assert num_hashes <= 8
    sh = df.select(F.col(id_col).alias("_id"), F.col(text).alias("_t")).withColumn(
        "pos",
        F.explode(F.sequence(F.lit(1), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1)))),
    )
    sh = sh.select(
        "_id",
        F.md5(F.encode(F.substring("_t", F.col("pos").cast("int"), k), "UTF-8")).alias("h"),
    )
    aggs = [
        F.min(F.expr(f"concat(substring(h, {4 * j + 1}, 32), substring(h, 1, {4 * j}))")).alias(
            f"m{j}"
        )
        for j in range(num_hashes)
    ]
    g = sh.groupBy(F.col("_id").alias(id_col)).agg(*aggs)
    stack_args = ", ".join(f"{j}, m{j}" for j in range(num_hashes))
    return g.select(
        id_col, F.expr(f"stack({num_hashes}, {stack_args}) as (j, minhash)")
    ).select(id_col, F.col("j").cast("bigint").alias("j"), "minhash")


def lsh_bands(
    sigs: DataFrame, id_col: str = "doc_id", rows_per_band: int = 2
) -> DataFrame:
    """Group the signature rows into bands; band key = concat of the
    band's minhashes (order fixed by j). Output: (id, band, band_key)."""
    b = (F.col("j") / rows_per_band).cast("int")
    return (
        sigs.withColumn("band", b)
        .groupBy(id_col, "band")
        .agg(F.concat_ws("|", F.array_sort(F.collect_list(F.concat_ws("=", F.col("j").cast("string"), "minhash")))).alias("band_key"))
    )


def neardup_candidates(
    bands: DataFrame, id_col: str = "doc_id", materialize: bool = True
) -> DataFrame:
    """Distinct candidate pairs sharing at least one LSH band bucket.
    Equi-join on (band, band_key); md5 uniformity keeps buckets balanced.

    materialize=True cuts the lineage first: both sides of the self-join
    otherwise recompute the full shingle->md5->min pipeline."""
    if materialize:
        bands = bands.localCheckpoint(eager=True)
    l = bands.select(F.col(id_col).alias("id_a"), "band", "band_key")
    r = bands.select(F.col(id_col).alias("id_b"), "band", "band_key")
    return (
        l.join(r, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 9,
) -> DataFrame:
    """Exact k-shingle Jaccard similarity for given candidate pairs."""
    sh = (
        df.select(F.col(id_col).alias("_id"), F.col(text).alias("_t"))
        .withColumn(
            "pos",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1)))
            ),
        )
        .select("_id", F.substring("_t", F.col("pos").cast("int"), k).alias("shingle"))
        .distinct()
    )
    n_sh = sh.groupBy("_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("_id").alias("id_a"), F.col("shingle").alias("sh_a"))
    b = sh.select(F.col("_id").alias("_rid"), F.col("shingle").alias("sh_b"))
    inter = (
        pairs.join(a, "id_a")
        .join(b, (F.col("id_b") == F.col("_rid")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = n_sh.select(F.col("_id").alias("id_a"), F.col("n").alias("n_a"))
    nb = n_sh.select(F.col("_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"n_inter": 0})
        .join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
    )


def hex_threshold(fraction: float, digits: int = 8) -> str:
    """Lowercase hex string t such that P[md5_digest < t] == fraction to
    16^-digits precision under plain string comparison — the shared
    Spark/DuckDB sampling literal. fraction >= 1 returns 'g', which
    sorts after every hex digest ('g' > 'f'); a plain all-f threshold
    would wrongly drop digests with an all-f prefix."""
    assert 0.0 <= fraction <= 1.0
    v = int(fraction * (16 ** digits))
    if v >= 16 ** digits:
        return "g"
    return format(v, f"0{digits}x")


def sample_deterministic(
    df: DataFrame,
    fraction: float,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sampling: keep a row iff
    md5(key || salt) < hex_threshold(fraction) as a plain string compare
    (hex is lexicographically ordered, so an 8-hex-digit threshold
    prefix-compares correctly against the full 32-char digest). Unlike
    df.sample(), the selection is a pure column predicate: reproducible
    across runs/engines/partitionings, pushes down past the scan, and
    re-running on changed data keeps previously-selected keys stable —
    what a 100-TB curation pipeline actually needs. Change `salt` for an
    independent resample."""
    h = F.md5(F.encode(F.concat(F.col(key_col).cast("string"), F.lit(salt)), "UTF-8"))
    return df.filter(h < F.lit(hex_threshold(fraction)))


def sample_stratified(
    df: DataFrame,
    fractions: dict,
    strata_col: str,
    key_col: str = "doc_id",
    salt: str = "",
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: `fractions` maps stratum value
    -> keep fraction (strata absent from the map get default_fraction).
    Same md5-threshold selection as sample_deterministic, so the whole
    thing is one codegen filter — no sampleBy() nondeterminism, no
    per-stratum scans."""
    h = F.md5(F.encode(F.concat(F.col(key_col).cast("string"), F.lit(salt)), "UTF-8"))
    thr = F.lit(hex_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(hex_threshold(frac))).otherwise(thr)
    return df.filter(h < thr)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pretraining-prep step between cleaning and tokenization. Chunk c
    covers whitespace tokens [c*stride, c*stride + size); starts run
    0, stride, 2*stride, ... while < n_tokens, so tails shorter than
    `size` still emit (no data loss) and consecutive chunks overlap by
    size - stride tokens. Pure codegen (split/sequence/explode/slice);
    the explode fan-out is ~n_tokens/stride per doc — bounded and
    uniform, safe at any scale."""
    assert size > 0 and 0 < stride
    toks = _tokens(F.col(text))
    d = df.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    ).withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.greatest(F.col("_n"), F.lit(1)) - 1) / stride).cast("bigint"),
            )
        ),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, size)
    return d.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
    )


def neardup_components(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup-cluster assignment: connected components over verified
    near-dup pairs, labeling every document with the MIN doc id of its
    component (`cluster_id`), its component size, and an `is_canonical`
    flag (the kept representative). Docs in no pair become singleton
    clusters.

    The labels are `plans/labels.min_label` over the symmetrized pair
    list: min-label propagation with pointer jumping, so chains collapse
    in O(log n) rounds rather than O(diameter). Near-dup components are
    overwhelmingly tiny cliques, so real-data convergence is 2-3 rounds;
    the jump bounds the adversarial long-chain case. Raises RuntimeError
    when the loop's round cap passes without the fixpoint (labels would
    be half-propagated).
    """
    from rayjoin_spark.plans.labels import min_label

    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    labels = min_label(
        ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("lbl")), sym
    )
    sizes = labels.groupBy("lbl").agg(F.count("*").alias("cluster_size"))
    return labels.join(sizes, "lbl").select(
        F.col("node").alias(id_col),
        F.col("lbl").alias("cluster_id"),
        "cluster_size",
        (F.col("node") == F.col("lbl")).alias("is_canonical"),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 9,
    prefix_chars: int = 128,
    n_bits: int = 16,
) -> DataFrame:
    """SimHash over the first `prefix_chars` chars: per hex nibble of each
    shingle's md5, vote +1/-1 per bit; sign of the vote sum is the bit.
    16-bit variant (first 4 nibbles) keeps the explode bounded."""
    t = F.substring(F.col(text), 1, prefix_chars)
    sh = (
        df.select(F.col(id_col).alias("_id"), t.alias("_t"))
        .withColumn(
            "pos",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - F.lit(k - 1), F.lit(1)))
            ),
        )
        .select("_id", F.md5(F.encode(F.substring("_t", F.col("pos").cast("int"), k), "UTF-8")).alias("h"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(n_bits - 1)))
    sh = sh.withColumn("bit", bit)
    # nibble value of hex char bit/4, then extract bit (bit%4) of the nibble;
    # plain SQL (instr/shift by expression) so the DuckDB oracle matches
    sh = sh.withColumn(
        "bitval",
        F.expr(
            "((instr('0123456789abcdef', substring(h, cast(bit/4 as int) + 1, 1)) - 1)"
            " DIV cast(pow(2, 3 - bit % 4) as int)) % 2"
        ),
    )
    vote = F.when(F.col("bitval") == 1, 1).otherwise(-1)
    votes = sh.withColumn("vote", vote).groupBy("_id", "bit").agg(F.sum("vote").alias("v"))
    bits = votes.withColumn(
        "bitset",
        F.when(F.col("v") > 0, F.expr("cast(pow(2, bit) as bigint)")).otherwise(F.lit(0)),
    )
    return bits.groupBy(F.col("_id").alias(id_col)).agg(
        F.sum("bitset").cast("bigint").alias("simhash")
    )


def simhash_neardup(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_hamming: int = 1,
    n_bits: int = 16,
    n_bands: int = 2,
    k: int = 9,
    prefix_chars: int = 128,
) -> DataFrame:
    """SimHash near-duplicate PAIRS (Manku, Jain & Sarma, WWW 2007): two
    documents are near-dups when their simhashes differ in at most
    ``max_hamming`` bits. The signature is cut into ``n_bands`` equal
    bit-bands; a pair within hamming distance < n_bands must agree
    EXACTLY on some band (pigeonhole), so candidates come from an
    equi-join on (band, band_bits) and the verify is one codegen
    ``bit_count(xor)`` — the candidate set is provably LOSSLESS for
    ``max_hamming < n_bands`` (enforced), unlike probabilistic LSH.

    Scale shape: the corpus shuffles once on compact (band, bits) keys —
    bucketed, never all-pairs; bucket fan-out is governed by the band
    width (n_bits/n_bands bits). Returns (id_a, id_b, hamming) with
    id_a < id_b, verified.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < n_bands ({n_bands}) "
            "for the pigeonhole candidate generation to be lossless"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bands ({n_bands}) must divide n_bits ({n_bits})")
    w = n_bits // n_bands
    sh = simhash(
        df, id_col=id_col, text=text, k=k, prefix_chars=prefix_chars, n_bits=n_bits
    ).select(F.col(id_col).alias("_id"), "simhash")
    bands = sh.select(
        "_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).select(
        "_id",
        "band",
        F.expr(f"shiftright(simhash, band * {w}) & {(1 << w) - 1}").alias("bkey"),
    )
    cand = (
        bands.select(F.col("_id").alias("id_a"), "band", "bkey")
        .join(bands.select(F.col("_id").alias("id_b"), "band", "bkey"), ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    j = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("simhash").alias("_sa")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("simhash").alias("_sb")), "id_b")
        .withColumn("hamming", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
    )
    return j.filter(F.col("hamming") <= max_hamming).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def tfidf_topk(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by tf-idf — the classic keyword-extraction
    / feature-selection pass of a corpus pipeline.

    Cross-engine determinism: the score is INTEGER-monotone in tf/df —
    ``score = tf * ((n_docs * 1_000_000) DIV df_t)`` — so ranking never
    compares floats (log-based idf differs in the last ulp between
    libm and the JVM). Ties break on term ascending. Bound: with
    n_docs < 2^43 and tf < 2^20 the product stays inside int64.

    Scale shape: one explode + two groupBys (both map-side combinable);
    the document-frequency table is vocabulary-sized, joined back on the
    term key (hash join, md5-free — terms are the key, uniform enough
    after lowercasing; a pathological single-term corpus would skew, but
    then the tf table is degenerate anyway). The scalar n_docs rides a
    broadcast 1-row cross join, not a driver collect.
    """
    from pyspark.sql import Window

    toks = _tokens(F.lower(F.col(text)))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    ndocs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.col("tf") * F.expr("(n_docs * 1000000) DIV df_t"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            F.col("score").cast("bigint").alias("score"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def bm25_rank(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 20,
) -> DataFrame:
    """Top-k documents for a term query under integer-quantized BM25
    (k1=1.2, b=0.75) — the search-ranking complement to ``tfidf_topk``.

    Cross-engine determinism (same discipline as tfidf_topk): no float
    ever enters a comparison. The idf is the BM25 ratio without the log,
    quantized: ``idf_q = ((2N - 2df + 1) * 10^6) DIV (2df + 1)`` (log is
    monotone, so per-term ranking order is preserved; absolute scores are
    a documented variant). The tf saturation keeps BM25's exact rational
    form, cleared of denominators by 20*L (L = corpus token count) and
    quantized to 10^9 BEFORE the idf product so every intermediate is
    bounded at ANY corpus scale:

        tf_sat_q = (44*tf*L*10^9) DIV (20*tf*L + 6*L + 18*dl*N)   < 2.2e9
        term     = (idf_q * tf_sat_q) DIV 10^9

    which is idf_q * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with
    avgdl = L/N, floor-quantized twice. All multiplications ride
    decimal(38,0): tf_sat's numerator needs tf*L*4.4e10 < 10^38 (holds
    through L ~ 10^15 tokens, tf ~ 10^7 — far past 100 TB), and the
    idf product is <= 2e18 * 2.2e9 < 10^28. Doc score = bigint sum over
    query terms; ties break on id ascending.

    Scale shape: tf explode + groupBy (map-side combinable) filtered to
    the query's terms FIRST (candidate set, not the corpus); df_t/N/L
    are a handful of scalars via broadcast one-row frames; one window
    for the global top-k (bounded output k).
    """
    from pyspark.sql import Window

    toks = _tokens(F.lower(F.col(text)))
    terms = F.array(*[F.lit(t) for t in query_terms])
    base = df.select(
        F.col(id_col),
        F.filter(toks, lambda x: x != "").alias("toks"),
    ).select(
        id_col,
        F.size("toks").alias("dl"),
        F.filter("toks", lambda x: F.array_contains(terms, x)).alias("qtoks"),
    )
    tf = (
        base.select(id_col, "dl", F.explode("qtoks").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("l_total")
    )
    d38 = "decimal(38,0)"
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_q",
            F.expr(
                f"((2 * CAST(n_docs AS {d38}) - 2 * df_t + 1) * 1000000)"
                " DIV (2 * df_t + 1)"
            ).cast("bigint"),
        )
        .withColumn(
            "tf_sat_q",
            F.expr(
                f"(44 * CAST(tf AS {d38}) * l_total * 1000000000)"
                f" DIV (20 * CAST(tf AS {d38}) * l_total"
                f"      + 6 * CAST(l_total AS {d38})"
                f"      + 18 * CAST(dl AS {d38}) * n_docs)"
            ).cast("bigint"),
        )
        .withColumn(
            "term_score",
            F.expr(f"(CAST(idf_q AS {d38}) * tf_sat_q) DIV 1000000000").cast(
                "bigint"
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(F.sum("term_score").alias("score"))
    # distributed top-k (TakeOrderedAndProject), NOT a global row_number
    # window — a single-partition Window over every scored doc would be
    # the classic scale bug; rank is assigned on the k-row result only.
    top = agg.orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return top.withColumn("rank", F.row_number().over(w)).select(
        id_col, "score", F.col("rank").cast("bigint").alias("rank")
    )


def repetition_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
) -> DataFrame:
    """Intra-document repetition: the fraction of word n-grams that are
    duplicates of an earlier occurrence in the SAME document — the
    Gopher/"MassiveText" quality signal that catches boilerplate and
    degenerate generation loops that document-level dedup can't see.

    ratio = (total_ngrams - distinct_ngrams) / total_ngrams, emitted as
    the two exact bigints plus one double division (a single IEEE op,
    bit-identical across engines; no float summation order anywhere).
    Docs shorter than n tokens emit (0, 0, 0.0).

    Scale shape: explode (fan-out = n_tokens - n + 1 per doc, linear) +
    one map-side-combinable groupBy keyed (doc, gram) folded into a
    per-doc agg — embarrassingly parallel, no joins."""
    toks = _tokens(F.lower(F.col(text)))
    d = df.select(F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n"))
    grams = d.select(
        id_col,
        F.explode(
            F.when(
                F.col("_n") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    per_doc = grams.groupBy(id_col).agg(
        F.count("*").alias("total_ngrams"),
        F.count_distinct("gram").alias("distinct_ngrams"),
    )
    out = df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("total_ngrams", F.lit(0)).cast("bigint").alias("total_ngrams"),
        F.coalesce("distinct_ngrams", F.lit(0)).cast("bigint").alias("distinct_ngrams"),
    )
    return out.withColumn(
        "rep_ratio",
        (F.col("total_ngrams") - F.col("distinct_ngrams"))
        / F.greatest(F.col("total_ngrams"), F.lit(1)).cast("double"),
    )


def shard_assign(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic output-shard assignment: shard = first 12 hex chars
    of md5(key || salt) parsed as an integer, mod n_shards. A pure
    column expression — the same doc lands in the same shard on any
    engine/partitioning/run, which is what makes incremental re-exports
    and resumable writes possible at 100 TB (df.repartition's hash is
    JVM-internal and version-dependent; this one is portable). 12 hex
    chars = 48 bits, so the mod bias for any practical n_shards is
    < 2^-30."""
    h = F.md5(F.encode(F.concat(F.col(key_col).cast("string"), F.lit(salt)), "UTF-8"))
    return df.withColumn(
        "shard",
        F.pmod(F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint"), F.lit(n_shards)),
    )


def shard_stats(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-shard balance report for a deterministic export: row count,
    total payload bytes, min/max key. The pre-flight check before a
    sharded training-data write — a skewed row here means a straggler
    file at write time."""
    return (
        shard_assign(df, n_shards, key_col)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(size_col).cast("bigint").alias("total_size"),
            F.min(key_col).alias("min_key"),
            F.max(key_col).alias("max_key"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int = 16,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Deterministic sequence packing: assign each document a (shard,
    pack_id, offset) so concatenating a pack's documents in order fills
    a token budget — the step that turns a cleaned corpus into
    fixed-length training sequences.

    Packing rule: within a shard (deterministic md5 shard, see
    shard_assign) documents are laid out in id order end-to-end;
    pack_id = start_offset DIV budget, i.e. a document belongs to the
    pack its first token falls in, and a document may straddle a pack
    boundary (the standard "concat then split" pretraining layout, not
    bin packing — no NP-hard fitting, one window per shard).

    Scale shape: one narrow window (running sum per shard, ~corpus/n_shards
    rows each) — for real corpora raise n_shards so a shard's rows fit an
    executor; the layout stays deterministic for any n_shards."""
    toks = _tokens(F.col(text))
    from pyspark.sql import Window

    d = shard_assign(
        df.select(F.col(id_col), F.size(toks).cast("bigint").alias("n_tokens")),
        n_shards,
        id_col,
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("end_off", F.sum("n_tokens").over(w))
    return d.select(
        id_col,
        "shard",
        "n_tokens",
        (F.col("end_off") - F.col("n_tokens")).alias("start_off"),
        F.expr(f"(end_off - n_tokens) DIV {budget}").alias("pack_id"),
        F.expr(f"(end_off - n_tokens) % {budget}").alias("pack_off"),
    )


def decontaminate(
    train: DataFrame,
    evalset: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text: str = "text",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Benchmark decontamination: find training documents that share any
    word n-gram with an evaluation set — the pass every serious
    pretraining pipeline runs before training, so eval numbers aren't
    memorization. Emits one row per contaminated (train doc, eval doc)
    pair with the shared-gram count; anti-join the result against the
    corpus to drop them.

    Scale shape: the eval set is small by definition, so its distinct
    gram table is BROADCAST; the corpus side is one bounded explode +
    distinct — a single linear scan, no corpus-side self-join. The
    groupBy on (train, eval) is map-side combinable.
    """

    def _grams(df: DataFrame, idc: str, alias: str) -> DataFrame:
        toks = _tokens(F.lower(F.col(text)))
        d = df.select(F.col(idc).alias(alias), toks.alias("_toks"), F.size(toks).alias("_n"))
        return d.select(
            alias,
            F.explode(
                F.when(
                    F.col("_n") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - F.lit(n - 1)),
                        lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        ).distinct()
    tg = _grams(train, id_col, id_col)
    eg = _grams(evalset, id_col, eval_id_col)
    return (
        tg.join(F.broadcast(eg), "gram")
        .groupBy(id_col, eval_id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


#: conservative PII patterns with identical semantics under Java regex
#: (Spark) and RE2 (DuckDB): no backrefs, no lookaround, greedy bounded
#: quantifiers only
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def redact_pii(df: DataFrame, text: str = "text") -> DataFrame:
    """PII scrub: replace emails and IPv4 literals with typed tokens and
    count what was removed — the pre-release hygiene pass of a corpus
    pipeline. Order matters and is fixed: emails first (an email can
    contain an IP-shaped host; the IP pass then sees the remaining
    text). Pure codegen regexp ops, embarrassingly parallel."""
    t = F.col(text)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), F.lit(0)))
    after_email = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(after_email, F.lit(PII_IPV4), F.lit(0)))
    redacted = F.regexp_replace(after_email, PII_IPV4, "<IP>")
    return (
        df.withColumn("n_emails", n_emails.cast("bigint"))
        .withColumn("n_ips", n_ips.cast("bigint"))
        .withColumn("redacted", redacted)
    )

def boilerplate_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    group_col: str = "source",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate signal (the RefinedWeb/CCNet filter
    that intra-doc repetition_ratio can't see): for each document, the
    fraction of its DISTINCT word n-grams that are *common within the
    document's group* (source/domain) — i.e. appear in >= min_docs
    distinct documents of the same group. Template pages, navigation
    chrome and licence footers score high; unique prose scores low.

    Scale shape: one bounded explode + per-doc distinct (linear in
    corpus tokens), one map-side-combinable count per (group, gram) —
    the rows are already (doc, group, gram)-distinct so COUNT(*) IS the
    distinct-doc count — and ONE equi-join back on (group, gram). No
    corpus self-join, no broadcast of anything corpus-sized; group+gram
    keys are near-uniform so the join is skew-safe (a pathological
    mega-gram is bounded by the group's doc count).

    Emits exact bigints (n_grams, n_boiler) plus one double division —
    a single IEEE op, bit-identical across engines.
    """
    toks = _tokens(F.lower(F.col(text)))
    d = df.select(
        F.col(id_col),
        F.col(group_col).alias("_grp"),
        toks.alias("_toks"),
        F.size(toks).alias("_n"),
    )
    grams = d.select(
        id_col,
        "_grp",
        F.explode(
            F.when(
                F.col("_n") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - F.lit(n - 1)),
                    lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    ).distinct()
    # rows are (doc, grp, gram)-distinct => COUNT(*) = distinct docs
    common = grams.groupBy("_grp", "gram").agg(F.count("*").alias("_docs"))
    per_doc = (
        grams.join(common, ["_grp", "gram"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("_docs") >= min_docs, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_boiler"),
        )
    )
    out = df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
    )
    return out.withColumn(
        "boiler_frac",
        F.col("n_boiler") / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
    )


def topk_per_group(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    k: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Skew-safe per-group top-k (highest score, ties -> lowest id):
    the per-domain quota pass of a web corpus pipeline ("keep the k
    best pages per domain") — a plain row_number window would ship a
    mega-domain's every row to ONE task, the classic crawl-skew
    straggler.

    Two-phase instead: phase 1 buckets each group by a deterministic
    hash of the id (pmod(xxhash64(id), n_buckets)) and takes top-k per
    (group, bucket), bounding any window partition at group_size /
    n_buckets; phase 2 re-ranks the <= k * n_buckets survivors per
    group. Identical output to the single-window plan (each group's
    true top-k survives its bucket's top-k), with the final window
    running on k*n_buckets rows per group at most. Ordering uses the
    struct key (-score, id) — exact for IEEE doubles with no NaNs —
    mirroring SQL `ORDER BY score DESC, id`.
    """
    from pyspark.sql import Window

    okey = F.struct((-F.col(score_col)).alias("ns"), F.col(id_col).alias("i"))
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_buckets))
    w1 = Window.partitionBy(group_col, "_bkt").orderBy(okey)
    w2 = Window.partitionBy(group_col).orderBy(okey)
    return (
        df.withColumn("_bkt", bucket)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .drop("_bkt", "_r1")
        .withColumn("rank", F.col("rank").cast("bigint"))
    )


def dedup_keep_best(
    scored: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality",
) -> DataFrame:
    """Representative selection after near-dup clustering: within each
    cluster keep the HIGHEST-quality document (ties -> lowest id), not
    the arbitrary min-id canonical — the final "which rows survive
    dedup" answer of a training-data pipeline (clusters from
    `neardup_components`, scores from `quality_score`).

    Scale shape: one equi-join of the cluster table to the score
    column, one map-side-combinable min_by groupBy per cluster (key =
    exact struct (-score, id)), one join back on cluster_id. Cluster
    ids are near-dup components — overwhelmingly tiny — so the joins
    are skew-safe; nothing corpus-sized is broadcast or windowed.
    """
    j = clusters.join(scored.select(id_col, score_col), id_col)
    best = j.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col), F.struct((-F.col(score_col)).alias("ns"), F.col(id_col).alias("i"))
        ).alias("kept_id")
    )
    return j.join(best, "cluster_id").select(
        id_col,
        "cluster_id",
        "kept_id",
        (F.col(id_col) == F.col("kept_id")).alias("keep"),
    )


def dup_spans(
    df: DataFrame,
    w: int = 8,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Cross-document duplicate-span detection at fixed token-window
    granularity — the scalable approximation of suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"): a doc's window is duplicated if the same
    w consecutive tokens appear in ANY other document. Catches copied
    passages inside otherwise-distinct pages, which whole-doc MinHash
    misses. Emits per doc: window count, duplicated-window count, and
    the duplicated fraction (one IEEE division).

    Scale shape: one bounded explode (n_tokens - w + 1 windows/doc,
    linear in corpus tokens), gram identity = md5 of the joined window
    (fixed-width key, no long strings cross the shuffle twice), one
    count-distinct-docs groupBy on the gram hash (md5-uniform keys —
    skew-safe), one equi-join back, one per-doc agg. No self-join, no
    window function, nothing corpus-sized on a single task.
    """
    toks = _tokens(F.col(text))
    base = df.select(F.col(id_col), toks.alias("_toks")).withColumn(
        "_n", F.size("_toks")
    )
    grams = base.filter(F.col("_n") >= w).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - F.lit(w - 1)),
                lambda i: F.md5(
                    F.encode(F.array_join(F.slice(F.col("_toks"), i, w), " "), "UTF-8")
                ),
            )
        ).alias("gram"),
    )
    gdocs = grams.groupBy("gram").agg(
        F.count_distinct(F.col(id_col)).alias("_docs")
    )
    per_doc = (
        grams.join(gdocs, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(
                F.when(F.col("_docs") >= 2, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_dup_windows"),
        )
    )
    out = df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_windows", F.lit(0)).cast("bigint").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias("n_dup_windows"),
    )
    return out.withColumn(
        "dup_frac",
        F.col("n_dup_windows") / F.greatest(F.col("n_windows"), F.lit(1)).cast("double"),
    )


def mix_sources(
    df: DataFrame,
    weights: dict,
    group_col: str = "source",
    key_col: str = "doc_id",
    default_weight: float = 1.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic source mixing / domain reweighting: emit each row
    round(weight) times in expectation — floor(weight) guaranteed
    copies plus one more iff md5(key || salt) falls under the
    fractional-part threshold (the sample_deterministic machinery, so
    up- AND down-sampling are the same op: weight 2.5 = 2 or 3 copies,
    weight 0.5 = 0 or 1). The pretraining data-mixing pass (domain
    weights a la DoReMi / The Pile recipes) as a pure column
    expression: reproducible across engines and partitionings, no
    sample()/rand() nondeterminism, and re-running on changed data
    keeps per-key decisions stable.

    Output repeats the row with a `rep` index 1..n_rep (bounded
    explode, linear in output size — no join, no shuffle at all).
    """
    h = F.md5(F.encode(F.concat(F.col(key_col).cast("string"), F.lit(salt)), "UTF-8"))
    base = F.lit(int(default_weight))
    thr = F.lit(hex_threshold(default_weight - int(default_weight)))
    for value, wgt in sorted(weights.items()):
        base = F.when(F.col(group_col) == value, F.lit(int(wgt))).otherwise(base)
        thr = F.when(
            F.col(group_col) == value, F.lit(hex_threshold(wgt - int(wgt)))
        ).otherwise(thr)
    n_rep = (base.cast("bigint") + (h < thr).cast("bigint")).alias("_nrep")
    out = df.withColumn("_nrep", n_rep)
    return (
        out.filter(F.col("_nrep") >= 1)
        .select(
            "*",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("_nrep"))).alias("rep"),
        )
        .drop("_nrep")
    )


#: GPT-2-style pre-tokenizer approximation, restricted to syntax with
#: IDENTICAL semantics under Java regex (Spark) and RE2 (DuckDB): no
#: lookaround, no unicode classes, leftmost-first alternation in both.
#: Alternatives: English contractions, optionally-space-prefixed letter
#: runs, digit runs, punctuation runs, then residual whitespace.
BPE_SPLIT_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9\\s]+"
    "|\\s+"
)


def bpe_token_count(df: DataFrame, text: str = "text") -> DataFrame:
    """Subword-ish token count: the number of BPE *pre-tokenization*
    segments (the GPT-2 split regex family) — the budget a tokenizer
    actually sees, vs the whitespace count of `token_count`. Counting
    matches of the split pattern is a pure codegen expression
    (regexp_extract_all + size): no UDF, no shuffle, and the pattern is
    dialect-portable so the DuckDB oracle reproduces it exactly."""
    t = F.col(text)
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.regexp_extract_all(t, F.lit(BPE_SPLIT_PATTERN), F.lit(0))).cast(
            "bigint"
        ),
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    max_postings: int = 16,
) -> DataFrame:
    """Inverted-index build: (term, doc_freq, postings) where postings is
    the comma-joined ascending list of the `max_postings` LOWEST doc ids
    containing the term — the search/retrieval index a corpus pipeline
    materializes next to the corpus itself.

    Scale shape: per-doc term dedup happens map-side for free
    (`array_distinct` BEFORE the explode — no distinct shuffle);
    doc_freq is one combinable groupBy; and the posting-list cap uses
    the skew-safe two-phase `topk_per_group` instead of collecting a
    stopword's full posting list (millions of ids) into one aggregation
    buffer — any window partition is bounded at group_size/n_buckets.
    """
    posting = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.array_distinct(F.split(F.trim(F.lower(F.col(text))), r"\s+"))
        ).alias("term"),
    )
    freq = posting.groupBy("term").agg(F.count("*").cast("bigint").alias("doc_freq"))
    # negated bigint (NOT double — ids above 2^53 must keep exact order)
    capped = topk_per_group(
        posting.withColumn("_neg", -F.col("_doc")),
        "term", "_neg", "_doc", k=max_postings,
    )
    lists = capped.groupBy("term").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list("_doc")), lambda x: x.cast("string")
            ),
        ).alias("postings")
    )
    return freq.join(lists, "term")


def quality_classifier(
    df: DataFrame,
    positive,
    id_col: str = "doc_id",
    text: str = "text",
    scale: int = 1000,
) -> DataFrame:
    """Model-based quality filtering, the fastText-classifier stage of a
    web-corpus pipeline (GPT-3/LLaMA-style: score every crawled page by
    a linear bag-of-words model trained on a curated positive seed).

    Train and apply in one job, entirely in truncating-integer
    arithmetic so the scores are bit-reproducible on any engine or
    partitioning: per-token weight is the Laplace-smoothed positive
    posterior ``w(t) = (scale * (pos_t + 1)) DIV (tot_t + 2)`` and the
    doc score is the mean token weight ``sum(w) DIV n_tokens`` —
    a naive-Bayes-flavored linear scorer.

    Scale shape: the vocab build is one combinable groupBy over the
    token stream; scoring joins the token stream to the 1-row-per-term
    vocab on `term` — stopword keys are hot on the PROBE side only
    (build side is unique per key), the skew class AQE/broadcast handles
    natively; the final per-doc agg is map-side combinable. No Python.

    `positive` is a boolean Column marking the curated seed (e.g.
    ``F.col("source") == "wiki"``).
    """
    tok = df.select(
        F.col(id_col).alias("_doc"),
        positive.cast("int").alias("_pos"),
        F.explode(F.split(F.trim(F.lower(F.col(text))), r"\s+")).alias("term"),
    )
    vocab = tok.groupBy("term").agg(
        F.sum("_pos").cast("bigint").alias("_p"),
        F.count("*").cast("bigint").alias("_t"),
    ).select(
        "term",
        F.expr(f"({scale} * (_p + 1)) DIV (_t + 2)").alias("_w"),
    )
    scored = (
        tok.join(vocab, "term")
        .groupBy("_doc")
        .agg(
            F.expr("sum(_w) DIV count(*)").cast("bigint").alias("quality_model_score"),
            F.count("*").cast("bigint").alias("n_tokens"),
        )
    )
    return scored.select(
        F.col("_doc").alias(id_col), "quality_model_score", "n_tokens"
    )


def lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    train=None,
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style n-gram language-model quality filter: score every
    document by how well a bigram model (trained on a seed subset, or on
    the corpus itself) predicts it. The CCNet/KenLM original ranks pages
    by LM perplexity; this is the same signal with the log-space math
    replaced by truncating-integer arithmetic so scores are
    bit-reproducible on any engine or partitioning:

      w(w1,w2) = (scale * (c(w1,w2) + 1)) DIV (c(w1·) + V)   (add-one MLE)
      lm_score(doc) = sum(w over doc bigrams) DIV n_bigrams

    where c(w1·) is the count of bigrams starting with w1 and V the
    distinct-successor vocabulary size. Higher = more in-distribution.
    Docs with < 2 tokens get no row (no bigram evidence).

    Scale shape: one explode over the token stream, two combinable
    groupBys for the model (c12, then c1 derived FROM c12 — never a
    second pass over the corpus), a scalar V via crossJoin, and two
    equi-joins model→doc-bigrams (hot common-bigram keys are hot on the
    probe side only; the build side is unique per key). No Python, no
    windows, no collect.

    `train` is an optional boolean Column marking the in-distribution
    seed (e.g. ``F.col("source") == "wiki"``); default trains on all rows.
    If the predicate matches ZERO rows the model has no mass (V = 0) and
    every document scores ``lm_score = NULL`` with its ``n_bigrams``
    intact — the explicit "untrained model" verdict, stated as a CASE
    guard so it holds under ANSI mode too (a bare DIV would raise
    DIVIDE_BY_ZERO mid-job there), never a fabricated score; gate on
    ``lm_score IS NOT NULL`` or validate the seed predicate upstream.
    """
    toks = F.split(F.trim(F.lower(F.col(text))), r"\s+")
    n = F.size(toks)
    big = df.select(
        F.col(id_col).alias("_doc"),
        (F.lit(True) if train is None else train).cast("int").alias("_tr"),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_bg"),
    ).select(
        "_doc", "_tr", F.col("_bg.w1").alias("_w1"), F.col("_bg.w2").alias("_w2")
    )
    c12 = (
        big.filter(F.col("_tr") == 1)
        .groupBy("_w1", "_w2")
        .agg(F.count("*").cast("bigint").alias("_c12"))
    )
    c1 = c12.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))
    v = c12.select(F.count_distinct("_w2").alias("_v"))
    scored = (
        big.join(c12, ["_w1", "_w2"], "left")
        .join(c1, "_w1", "left")
        .crossJoin(v)
        .select(
            "_doc",
            # vocabulary 0 (train predicate matched nothing) -> NULL
            # weight, stated as a CASE so ANSI mode can't turn the
            # untrained-model verdict into a mid-job DIVIDE_BY_ZERO
            F.expr(
                f"CASE WHEN coalesce(_c1, 0) + _v = 0 THEN NULL "
                f"ELSE ({scale} * (coalesce(_c12, 0) + 1)) "
                f"DIV (coalesce(_c1, 0) + _v) END"
            ).alias("_w"),
        )
        .groupBy("_doc")
        .agg(
            F.expr("sum(_w) DIV count(*)").cast("bigint").alias("lm_score"),
            F.count("*").cast("bigint").alias("n_bigrams"),
        )
    )
    return scored.select(F.col("_doc").alias(id_col), "lm_score", "n_bigrams")


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text: str = "text",
    train=None,
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet's defining output (Wenzek et al. 2020): split each
    language's documents into head / middle / tail thirds by LM quality.
    CCNet sorts by Wikipedia-LM perplexity (lower = better) and cuts at
    the 1/3 and 2/3 points; `lm_score` is the higher-is-better integer
    analog, so head = the top tercile.

    Cut points are per-language EXACT terciles of the non-null scores
    (`exact_quantiles`' lower-nearest-rank convention, qs=(33, 66));
    bucket = head if lm_score > p66, middle if > p33, else tail —
    integer comparisons only, bit-reproducible on any engine.

    Docs with < 2 tokens have no bigram evidence, no lm_score row, and
    are absent from the output (CCNet likewise drops them before the
    split). An empty `train` predicate yields NULL lm_scores (lm_score's
    untrained-model verdict): the cuts table is then empty and every
    remaining doc lands in 'tail' via the left join.

    Scale shape: lm_score's plan + one DISTINCT-VALUE-sized histogram
    window for the cuts + a one-row-per-language broadcast cuts join —
    nothing new shuffles the corpus."""
    scored = lm_score(df, id_col=id_col, text=text, train=train, scale=scale)
    withlang = scored.join(df.select(F.col(id_col), F.col(lang_col)), id_col)
    cuts = exact_quantiles(
        withlang.filter(F.col("lm_score").isNotNull()),
        lang_col,
        "lm_score",
        qs=(33, 66),
    )
    out = withlang.join(
        F.broadcast(cuts.select(lang_col, "p33", "p66")), lang_col, "left"
    )
    bucket = (
        F.when(F.col("lm_score") > F.col("p66"), "head")
        .when(F.col("lm_score") > F.col("p33"), "middle")
        .otherwise("tail")
    )
    return out.select(
        F.col(id_col),
        F.col(lang_col),
        "lm_score",
        "n_bigrams",
        "p33",
        "p66",
        bucket.alias("bucket"),
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-novelty signal: how many of a document's word n-grams
    appear in NO other document (df == 1). High novelty separates fresh
    content from boilerplate/templated pages; near-zero novelty is a
    contamination/duplication flag complementary to [[dup-spans]] and
    the MinHash family. All-integer output (n_grams, n_novel) — no
    ratio column, so the result is hash-exact on any engine.

    Scale shape: per-doc n-gram dedup is map-side (`array_distinct`
    before the explode); the document-frequency count is one combinable
    groupBy on the gram string; the join back fans a stop-gram's 1-row
    count across its probe rows (AQE-friendly); the final per-doc agg is
    combinable. Docs shorter than n words come back as (0, 0) via the
    left join.
    """
    toks = _tokens(F.lower(F.col(text)))
    grams = F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col).alias("_id"), F.explode(grams).alias("gram"))
    cnt = g.groupBy("gram").agg(F.count("*").alias("_df"))
    per = (
        g.join(cnt, "gram")
        .groupBy("_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.sum((F.col("_df") == 1).cast("int")).cast("bigint").alias("n_novel"),
        )
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 9,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003,
    "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    algorithm): hash every k-gram, slide a window of `w` consecutive
    hashes, and in each window select the minimum hash, breaking ties by
    the RIGHTMOST position; the distinct selected (position, hash) pairs
    are the document's fingerprints. Guarantees: any shared substring of
    length >= k + w - 1 yields a shared fingerprint (the winnowing
    theorem), and fingerprint density is ~2/(w+1) — the local,
    position-aware complement to MinHash (which is global per doc).

    Hashes are md5 hex strings of the raw k-char shingle, totally ordered
    the same on any engine (module contract). The whole selection is
    per-row array code (transform/slice/array_min/reverse) — scan-shaped,
    ZERO shuffle before the final distinct; fan-out is one row per window
    (linear in text length). Docs shorter than k + w - 1 still emit >= 1
    fingerprint (one truncated window), matching the paper's "every
    document has at least one fingerprint" property.

    Output: (id, pos, fingerprint) — pos is the 1-based char position of
    the selected k-gram.
    """
    assert k >= 1 and w >= 1
    t = F.coalesce(F.col(text), F.lit(""))
    n_grams = F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda p: F.md5(F.encode(F.substring(t, p, k), "UTF-8")),
    )
    d = df.select(
        F.col(id_col),
        hashes.alias("_h"),
        n_grams.alias("_ng"),
    ).withColumn(
        "wstart",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("_ng") - F.lit(w - 1), F.lit(1)))
        ),
    )
    win = F.slice(F.col("_h"), F.col("wstart"), w)
    m = F.array_min(win)
    # rightmost occurrence of the min inside the window:
    # size(win) - position_in_reversed + 1, then offset by the start
    rightmost = F.size(win) - F.array_position(F.reverse(win), m) + 1
    sel = d.select(
        id_col,
        (F.col("wstart") + rightmost - 1).cast("bigint").alias("pos"),
        m.alias("fingerprint"),
    )
    return sel.distinct()


def ngram_containment(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    k: int = 9,
) -> DataFrame:
    """Broder containment for candidate pairs: on top of the exact
    k-shingle Jaccard, emit ``contain_a = |A∩B| / |A|`` and
    ``contain_b = |A∩B| / |B|`` — the asymmetric measure that catches a
    short document wholly embedded in a long one (quote farms, scraped
    excerpts), which symmetric Jaccard under-scores (Broder 1997, "On
    the Resemblance and Containment of Documents"). Each ratio is one
    IEEE division over the exact integer counts — bit-identical across
    engines. Same scale shape as ngram_jaccard: joins only over the
    candidate pairs."""
    j = ngram_jaccard(df, pairs, id_col=id_col, text=text, k=k)
    return j.withColumn(
        "contain_a",
        F.col("n_inter") / F.greatest(F.col("n_a"), F.lit(1)).cast("double"),
    ).withColumn(
        "contain_b",
        F.col("n_inter") / F.greatest(F.col("n_b"), F.lit(1)).cast("double"),
    )


def exact_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (25, 50, 75),
) -> DataFrame:
    """Exact per-group percentiles of an integer column WITHOUT a
    per-group global sort: the distributed selection a 100-TB corpus
    card needs (p25/p50/p75 of document length per language, etc.).

    Definition (exact, integer): the q-th percentile is the element at
    0-based rank ``((n - 1) * q) DIV 100`` of the group's values sorted
    ascending — the "lower nearest-rank" convention, no float
    interpolation, so results hash-match any engine.

    Scale shape: groupBy (group, value) histogram first (map-side
    combinable — the shuffled table is DISTINCT-VALUE sized, not
    row-sized), then one cumulative-sum window over that small
    histogram, then a conditional min per group. A naive row_number
    window would sort every row of a group on one task; this plan's
    window partitions are bounded by the value cardinality."""
    from pyspark.sql import Window

    hist = df.groupBy(group_col, value_col).agg(F.count("*").alias("_c"))
    wcum = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("_cum", F.sum("_c").over(wcum))
    tot = hist.groupBy(group_col).agg(F.sum("_c").cast("bigint").alias("n_rows"))
    j = cum.join(tot, group_col)
    aggs = [F.max("n_rows").alias("n_rows")]
    for q in qs:
        target = F.expr(f"((n_rows - 1) * {int(q)}) DIV 100") + 1
        aggs.append(
            F.min(F.when(F.col("_cum") >= target, F.col(value_col))).alias(f"p{int(q)}")
        )
    return j.groupBy(group_col).agg(*aggs)


#: unicode script ranges as character classes valid in BOTH Java regex
#: (Spark) and RE2 (DuckDB) — hex \x{...} ranges only, BMP only, no \p
#: properties (RE2 and Java disagree on some property names). Latin
#: includes the supplement/extended blocks so accented European text
#: counts as latin.
SCRIPT_RANGES = (
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("cjk", r"[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}\x{AC00}-\x{D7AF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
)


def script_profile(df: DataFrame, text: str = "text") -> DataFrame:
    """Unicode script composition per document — the script-mix signal a
    web corpus uses next to language-ID (lang_id is stopword-based and
    latin-biased; script counts catch mixed-script spam, mojibake and
    wrong-language routing). Per script: the character count, computed
    as ``length(t) - length(regexp_replace(t, class, ''))`` — two
    codegen ops, no explode; plus the dominant script ('other' when no
    listed script occurs), ties broken in SCRIPT_RANGES order.

    Scale shape: pure whole-stage-codegen column expressions,
    scan-shaped, zero shuffle, embarrassingly parallel."""
    t = F.coalesce(F.col(text), F.lit(""))
    counts = {
        name: (F.length(t) - F.length(F.regexp_replace(t, pat, ""))).cast("bigint")
        for name, pat in SCRIPT_RANGES
    }
    out = df.withColumn("n_chars", F.length(t).cast("bigint"))
    for name in counts:
        out = out.withColumn(f"n_{name}", counts[name])
    best = F.greatest(*[F.col(f"n_{n}") for n, _ in SCRIPT_RANGES])
    dom = F.when(best == 0, F.lit("other"))
    for name, _ in SCRIPT_RANGES:
        dom = dom.when(F.col(f"n_{name}") == best, F.lit(name))
    return out.withColumn("dominant_script", dom)


#: line-terminal punctuation accepted by the C4 line rule
C4_TERMINAL = (".", "!", "?", '"')


def c4_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_words: int = 3,
    min_kept_lines: int = 2,
) -> DataFrame:
    """The C4 cleaning stage (Raffel et al. 2020, "Exploring the Limits
    of Transfer Learning" §2.2) — the line/document heuristics that
    turned Common Crawl into C4, applied to newline-delimited page text:

    * a LINE survives iff (after trimming) it ends in terminal
      punctuation (``. ! ? "``), has at least `min_words` whitespace
      words, and does not contain the word "javascript";
    * a DOCUMENT survives iff at least `min_kept_lines` lines survive,
      the text does not contain "lorem ipsum" (case-insensitive), and
      does not contain a curly brace ``{`` (code placeholder).

    Emits per document the line counts, the kept-line reassembly
    (`kept_text`) and the document verdict (`keep`) — callers filter on
    `keep` and continue with `kept_text`.

    Scale shape: one pure-codegen higher-order ``filter`` over the split
    line array — scan-shaped, zero shuffle, embarrassingly parallel; no
    UDF, no explode (the array never leaves the row). Lines split on
    ``\\r?\\n`` (CRLF pages clean the same as LF) and the per-line trim
    strips ALL whitespace (tabs included), so layout whitespace never
    defeats the punctuation test or pads the word count."""
    t = F.coalesce(F.col(text), F.lit(""))
    lines = F.split(t, r"\r?\n")

    def _line_ok(x: Column) -> Column:
        s = F.regexp_replace(x, r"^\s+|\s+$", "")
        return (
            s.substr(-1, 1).isin(list(C4_TERMINAL))
            & (F.size(F.split(s, r"\s+")) >= min_words)
            & ~F.lower(s).contains("javascript")
        )

    kept = F.filter(lines, _line_ok)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept"),
        (
            (F.size(kept) >= min_kept_lines)
            & ~F.lower(t).contains("lorem ipsum")
            & ~t.contains("{")
        ).alias("keep"),
        F.array_join(kept, "\n").alias("kept_text"),
    )


def dedup_against(
    new: DataFrame,
    ref: DataFrame,
    text: str = "text",
) -> DataFrame:
    """Incremental-corpus dedup: keep only rows of `new` whose content
    does not already exist in the reference corpus `ref` — the "new
    crawl batch vs what we already have" filter of a continuously-built
    training set (cheaper than re-running global dedup over
    corpus+batch: only the BATCH shuffles its hashes; the corpus side
    reduces to its distinct hash column).

    Exact-content semantics via md5 fingerprint; one left_anti equi-join
    on the hash (the corpus side is hash-distinct and column-pruned —
    at 10^12 docs that is one slim column scan, broadcast if it fits,
    shuffled otherwise). Rows of `new` that duplicate each other but not
    the corpus are all kept — run in-batch `dedup_exact` first if batch
    self-dedup is also wanted.
    """
    h = F.md5(F.encode(F.col(text), "UTF-8"))
    ref_hashes = ref.select(h.alias("_h")).distinct()
    return (
        new.withColumn("_h", h)
        .join(ref_hashes, "_h", "left_anti")
        .drop("_h")
    )


#: normalization chain (order matters; see normalize_text). Patterns are
#: ASCII-safe strings valid in BOTH Java regex (Spark) and RE2 (DuckDB),
#: so the oracle replays the same chain verbatim — keep them that way.
NORM_STEPS = (
    (r"\r\n?", "\n"),  # CR / CRLF -> LF first (CR is not in the ctrl class)
    (r"[\x{200B}\x{200C}\x{200D}\x{FEFF}\x{00AD}]", ""),  # zero-width + soft hyphen
    (r"[\x{00A0}\x{2007}\x{202F}]", " "),  # no-break space family
    (r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),  # control chars (keep \t \n)
    (r"[ \t]+", " "),  # blank runs -> one space
    (r" ?\n ?", "\n"),  # spaces hugging newlines
    (r"\n{3,}", "\n\n"),  # >2 blank lines -> paragraph break
    (r"^[ \n]+|[ \n]+$", ""),  # trim
)


def normalize_text(
    df: DataFrame, text: str = "text", out: str = "norm_text"
) -> DataFrame:
    """Unicode/whitespace normalization — the cleanup pass corpus
    pipelines (CCNet, C4) run before tokenization and dedup so that
    invisible byte differences (NBSP vs space, zero-width joiners, CRLF,
    soft hyphens, stray control chars) don't split otherwise-identical
    documents or pollute token counts. NULL text normalizes to ''.

    The chain is `NORM_STEPS` applied in order; ``changed`` flags rows
    the pass actually touched (null-safe — a NULL input that becomes ''
    counts as changed). Scale shape: a regexp_replace chain, pure
    whole-stage codegen, scan-shaped, zero shuffle."""
    c = F.coalesce(F.col(text), F.lit(""))
    for pat, rep in NORM_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return df.withColumn(out, c).withColumn(
        "changed", ~F.col(out).eqNullSafe(F.col(text))
    )


#: Gopher's stopword set (Rae et al. 2021, app. A1.1 "quality filtering")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """The Gopher / MassiveWeb document-quality rules (Rae et al. 2021,
    "Scaling Language Models", appendix A1.1) — the filter set most
    large-scale webtext pipelines (RefinedWeb, Dolma, FineWeb) inherit:

    * word count in [min_words, max_words];
    * mean word length in [3, 10] characters;
    * symbol-to-word ratio (``#`` or ``...``) at most 0.1;
    * at most 10% of lines start with a bullet (``•`` or ``- ``);
    * at most 30% of lines end with an ellipsis (``...`` or ``…``);
    * at least 80% of words contain an alphabetic character;
    * at least 2 distinct stopwords from GOPHER_STOPWORDS.

    Every ratio test is cross-multiplied into INTEGER comparisons (no
    float thresholds to drift between engines); empty documents fail the
    word-count rule and every other rule reports vacuously true.

    Output: per-document counters plus one int flag per rule and the
    conjunction `keep`. Scale shape: pure-codegen higher-order array ops
    over the in-row split — scan-shaped, zero shuffle, no UDF, no
    explode."""
    t = F.coalesce(F.col(text), F.lit(""))
    words = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    n_chars = F.aggregate(
        words, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    # 3x the non-overlapping "..." count (a multiple of 3 by construction;
    # kept scaled so the ratio rule below stays in integers)
    n_ell3 = F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    lines = F.split(t, r"\r?\n")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(
            lines,
            lambda x: x.startswith("•") | x.startswith("- "),
        )
    )
    n_ell_lines = F.size(
        F.filter(
            lines,
            lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…"),
        )
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    n_stop = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(words, s),
        )
    )
    rules = {
        "ok_words": (n_words >= min_words) & (n_words <= max_words),
        # 3 <= n_chars/n_words <= 10, cross-multiplied
        "ok_word_len": (n_chars >= 3 * n_words.cast("bigint"))
        & (n_chars <= 10 * n_words.cast("bigint")),
        # (n_hash + n_ellipsis) / n_words <= 0.1, cross-multiplied by 3
        "ok_symbols": F.lit(10) * (F.lit(3) * n_hash + n_ell3)
        <= F.lit(3) * n_words,
        # bullet lines <= 10% of lines
        "ok_bullets": F.lit(10) * n_bullet <= n_lines,
        # ellipsis-ended lines <= 30% of lines
        "ok_ellipsis": F.lit(10) * n_ell_lines <= F.lit(3) * n_lines,
        # >= 80% of words contain a letter
        "ok_alpha": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "ok_stopwords": n_stop >= 2,
    }
    flags = [v.cast("int").alias(k) for k, v in rules.items()]
    keep = None
    for v in rules.values():
        keep = v if keep is None else (keep & v)
    return df.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        n_chars.alias("n_chars"),
        n_lines.cast("bigint").alias("n_lines"),
        n_stop.cast("bigint").alias("n_stopwords"),
        *flags,
        keep.cast("int").alias("keep"),
    )


def gopher_repetition(
    df: DataFrame,
    id_col: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """The Gopher / MassiveWeb REPETITION filters (Rae et al. 2021,
    app. A1.1 table A1 — the other half of `gopher_rules`): per-document

    * duplicate line / paragraph fraction (occurrences beyond the first,
      over non-empty trimmed units)          <= 0.30
    * duplicate line / paragraph CHARACTER fraction  <= 0.20
    * top word-2/3/4-gram character fraction (occurrences x non-space
      chars of the single most frequent gram, ties to the
      lexicographically smallest, over total token chars)
      <= 0.20 / 0.18 / 0.16

    Every ratio is emitted as its exact integer numerator/denominator
    pair and the verdict flags use cross-multiplied integer comparisons;
    empty denominators pass vacuously. (The duplicate-5..10-gram family
    is covered generically by `repetition_ratio(n)`.)

    Scale shape: five explode + map-side-combinable groupBy((doc, unit))
    pipelines folded to per-doc rows and left-joined back — linear in
    corpus size, keyed by doc so the joins co-partition; no UDF, no
    window over the corpus."""
    t = F.coalesce(F.col(text), F.lit(""))
    toks = F.filter(F.split(F.trim(t), r"\s+"), lambda w: w != F.lit(""))
    # base feeds SIX subtrees (projection + 2 dup_stats + 3 top_gram);
    # checkpoint the tokenized frame once so the source is scanned and
    # split/tokenized once, not per-branch (house pattern: heavy_hitters)
    base = df.select(
        F.col(id_col),
        F.aggregate(
            toks, F.lit(0).cast("bigint"), lambda acc, w: acc + F.length(w)
        ).alias("word_chars"),
        toks.alias("_toks"),
        F.size(toks).alias("_ntok"),
        t.alias("_t"),
    ).localCheckpoint(eager=True)

    def dup_stats(pattern: str, prefix: str) -> DataFrame:
        units = base.select(
            id_col,
            F.explode(
                F.filter(F.split(F.col("_t"), pattern), lambda x: F.trim(x) != "")
            ).alias("u"),
        )
        g = units.groupBy(id_col, "u").agg(F.count("*").alias("cnt"))
        return g.groupBy(id_col).agg(
            F.sum("cnt").cast("bigint").alias(f"n_{prefix}"),
            F.sum(F.col("cnt") - 1).cast("bigint").alias(f"dup_{prefix}"),
            F.sum(F.col("cnt") * F.length("u")).cast("bigint").alias(f"{prefix}_chars"),
            F.sum((F.col("cnt") - 1) * F.length("u"))
            .cast("bigint")
            .alias(f"dup_{prefix}_chars"),
        )

    def top_gram(n: int) -> DataFrame:
        grams = base.select(
            id_col,
            F.explode(
                F.when(
                    F.col("_ntok") >= n,
                    F.transform(
                        F.sequence(F.lit(1), F.col("_ntok") - F.lit(n - 1)),
                        lambda i: F.array_join(F.slice(F.col("_toks"), i, n), " "),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("g"),
        )
        cnts = grams.groupBy(id_col, "g").agg(F.count("*").cast("bigint").alias("cnt"))
        top = cnts.groupBy(id_col).agg(
            F.min(F.struct((-F.col("cnt")).alias("nc"), F.col("g").alias("g"))).alias(
                "_top"
            )
        )
        return top.select(
            id_col,
            (
                (-F.col("_top.nc"))
                * F.length(F.replace(F.col("_top.g"), F.lit(" "), F.lit("")))
            )
            .cast("bigint")
            .alias(f"top{n}_chars"),
        )

    lines = dup_stats(r"\r?\n", "lines")
    paras = dup_stats(r"(\r?\n){2,}", "paras")
    out = base.select(id_col, "word_chars")
    for piece in (lines, paras, top_gram(2), top_gram(3), top_gram(4)):
        out = out.join(piece, id_col, "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("bigint")
    rules = {
        "ok_dup_lines": F.lit(10) * z("dup_lines") <= F.lit(3) * z("n_lines"),
        "ok_dup_paras": F.lit(10) * z("dup_paras") <= F.lit(3) * z("n_paras"),
        "ok_dup_line_chars": F.lit(5) * z("dup_lines_chars") <= z("lines_chars"),
        "ok_dup_para_chars": F.lit(5) * z("dup_paras_chars") <= z("paras_chars"),
        "ok_top2": F.lit(5) * z("top2_chars") <= z("word_chars"),
        "ok_top3": F.lit(50) * z("top3_chars") <= F.lit(9) * z("word_chars"),
        "ok_top4": F.lit(25) * z("top4_chars") <= F.lit(4) * z("word_chars"),
    }
    keep = None
    for v in rules.values():
        keep = v if keep is None else (keep & v)
    return out.select(
        F.col(id_col),
        z("n_lines").alias("n_lines"),
        z("dup_lines").alias("dup_lines"),
        z("lines_chars").alias("line_chars"),
        z("dup_lines_chars").alias("dup_line_chars"),
        z("n_paras").alias("n_paras"),
        z("dup_paras").alias("dup_paras"),
        z("paras_chars").alias("para_chars"),
        z("dup_paras_chars").alias("dup_para_chars"),
        F.col("word_chars"),
        z("top2_chars").alias("top2_chars"),
        z("top3_chars").alias("top3_chars"),
        z("top4_chars").alias("top4_chars"),
        *[v.cast("int").alias(k) for k, v in rules.items()],
        keep.cast("int").alias("keep"),
    )


def _tokenized_unigrams(df: DataFrame, text: str):
    """Shared preamble of collocations / skipgram_pairs: non-blank docs
    tokenized + corpus unigram counts. The blank-doc guard filters on
    TRIMMED TEXT length, not array size — splitting a trimmed empty
    string yields [''] (size 1), which would inject a phantom ''
    unigram per blank doc and inflate the N total quadratically in the
    association test (the review-caught contract; this is the ONE copy
    of that reasoning)."""
    t = (
        df.filter(F.length(F.trim(F.col(text))) > 0)
        .select(_tokens(F.col(text)).alias("_toks"))
    )
    uni = (
        t.select(F.explode("_toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return t, uni


def collocations(
    df: DataFrame,
    min_count: int = 2,
    ratio_num: int = 2,
    ratio_den: int = 1,
    text: str = "text",
) -> DataFrame:
    """PMI-style collocation extraction: adjacent whitespace-token pairs
    whose observed frequency beats their independence expectation by at
    least ratio_num/ratio_den — the corpus-linguistics pass that finds
    multiword units ("new york", boilerplate phrases) for tokenizer vocab
    building and template detection.

    With N = total tokens, M = total bigrams, n_a/n_b unigram counts and
    n_ab the bigram count, the association ratio is

        r = P(ab) / (P(a) P(b)) = (n_ab / M) / ((n_a / N) (n_b / N))

    and the emitted test is the cross-multiplied integer inequality
    ``ratio_den * n_ab * N^2 >= ratio_num * M * n_a * n_b`` (PMI >=
    log(num/den) without ever taking a log — float-free, cf.
    tfidf_topk's integer-monotone idf). Products ride decimal(38,0)
    (int64 wraps silently at N ~ 1e10 already); the decimal side is
    EXACT while both sides stay under 10^38 — i.e. up to N ~ 1e12
    with n_ab, n_a*n_b/M bounded accordingly — and beyond that Spark's
    ANSI mode fails LOUD (NUMERIC_VALUE_OUT_OF_RANGE), never silently:
    shard the corpus (per language / per domain) before this pass at
    larger scales.

    Returns (w1, w2, n_ab, n_a, n_b) with n_ab >= min_count.

    Scale shape: one bounded bigram explode (size-1 per doc) + one
    unigram explode, two combinable groupBys, two hash joins on the
    word key, scalar totals via a broadcast one-row frame. A stop-word
    hub ("the") is a fat join key on n_a/n_b lookup — 1-row build side
    per key, AQE-friendly probe skew (quality_classifier's pattern),
    never a pair blowup (pairs are ADJACENT only, not co-occurrence).
    """
    t, uni = _tokenized_unigrams(df, text)
    bi_all = (
        t.filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 2), "
                    "i -> struct(_toks[i] AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    return _assoc_threshold(bi_all, uni, min_count, ratio_num, ratio_den)


def _assoc_threshold(
    pair_counts: DataFrame,
    uni: DataFrame,
    min_count: int,
    ratio_num: int,
    ratio_den: int,
) -> DataFrame:
    """Shared association test of collocations / skipgram_pairs:
    keep (w1, w2, n_ab) pairs with n_ab >= min_count whose frequency
    beats ratio_num/ratio_den times the independence expectation,
    decided by the cross-multiplied decimal(38,0) inequality
    den*n_ab*N^2 >= num*M*n_a*n_b. M is the UNFILTERED pair total —
    P(ab) is relative to every pair occurrence in the corpus, not just
    the frequent ones (the review-caught M-total contract)."""
    bi = pair_counts.filter(F.col("n_ab") >= min_count)
    totals = uni.agg(
        F.sum("n").cast("decimal(38,0)").alias("_n_total")
    ).crossJoin(
        pair_counts.agg(F.sum("n_ab").cast("decimal(38,0)").alias("_m_total"))
    )
    ua = uni.select(F.col("w").alias("w1"), F.col("n").alias("n_a"))
    ub = uni.select(F.col("w").alias("w2"), F.col("n").alias("n_b"))
    return (
        bi.join(ua, "w1")
        .join(ub, "w2")
        .crossJoin(F.broadcast(totals))
        .filter(
            F.lit(int(ratio_den))
            * F.col("n_ab").cast("decimal(38,0)")
            * F.col("_n_total")
            * F.col("_n_total")
            >= F.lit(int(ratio_num))
            * F.col("_m_total")
            * F.col("n_a").cast("decimal(38,0)")
            * F.col("n_b").cast("decimal(38,0)")
        )
        .select("w1", "w2", "n_ab", "n_a", "n_b")
    )


def skipgram_pairs(
    df: DataFrame,
    window: int = 3,
    min_count: int = 2,
    ratio_num: int = 2,
    ratio_den: int = 1,
    text: str = "text",
) -> DataFrame:
    """Window-w co-occurrence association (the word2vec/GloVe counting
    pass): UNORDERED token pairs within distance 1..window, canonical
    (least, greatest) — including equal-token pairs from repeated words,
    which are real co-occurrence mass — tested against the independence
    expectation with the same log-free integer rule as `collocations`
    (which is exactly the window=1 ORDERED special case). N = total
    tokens, M = total pair occurrences over all offsets.

    Scale shape: one bounded explode (window slots per token, the
    explode factor is the window size, constant in data), combinable
    groupBys, the shared `_assoc_threshold` join. Returns
    (w1, w2, n_ab, n_a, n_b) with w1 <= w2.
    """
    if window < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    t, uni = _tokenized_unigrams(df, text)
    pairs = (
        t.filter(F.size("_toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    # outer d-range clamps to size-1 so the inner
                    # sequence never runs start > stop (Spark would
                    # emit a DESCENDING range, not an empty one)
                    "flatten(transform(sequence(1, least({w}, size(_toks) - 1)), d -> "
                    "transform(sequence(0, size(_toks) - 1 - d), "
                    "i -> struct(least(_toks[i], _toks[i + d]) AS w1, "
                    "greatest(_toks[i], _toks[i + d]) AS w2))))".format(w=int(window))
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("n_ab"))
    )
    return _assoc_threshold(pairs, uni, min_count, ratio_num, ratio_den)


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int = 100,
    group_col: str | None = None,
    id_col: str = "doc_id",
    salt: str = "ws1",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (per group or
    global): keep the ``k`` rows with the smallest priority h/w, where h
    is an md5-derived uniform 60-bit integer per (salt, id) and w the
    positive integer weight — higher weight, systematically smaller
    priority, so inclusion probability grows with w (the
    integer-deterministic cousin of Efraimidis-Spirakis weighted
    reservoir sampling; the corpus-mixing "sample docs proportionally to
    quality" pass, reproducible across engines, partitionings and
    reruns, unlike rand()-based sampleBy).

    The sort key is the exact rational h/w quantized to 62 fractional
    bits as three integer components — q = floor(h/w) plus two 31-bit
    fraction limbs via the operators/pip.py subtract-pmod/DIV technique
    (decimal(38,0), no float division anywhere) — tie-broken by (h, id):
    a deterministic total order stated identically by the SQL oracle.
    Rows with w <= 0 or NULL are excluded (zero weight = never sampled).

    Returns (group?, id, weight, sample_rank 0-based). Scale shape: one
    codegen key computation + the skew-safe two-level per-group rank
    (plans/ranking.grouped_index) — no mega-group single-task window;
    global mode ranks one synthetic group the same way.
    """
    from rayjoin_spark.plans.ranking import grouped_index

    gcols = [group_col] if group_col else []
    base = df.select(
        *gcols,
        F.col(id_col).alias("_id"),
        F.col(weight_col).cast("bigint").alias("w"),
    ).filter(F.col("w") > 0)
    # uniform 60-bit h from the house-portable md5 of (salt, id)
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.lit(":"), F.col("_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    dec = "decimal(38,0)"
    b = (
        base.withColumn("h", h)
        .withColumn("_hd", F.col("h").cast(dec))
        .withColumn("_wd", F.col("w").cast(dec))
    )
    # q + two 31-bit fraction limbs of h/w (exact; pip.py technique)
    b = b.withColumn("pri_q", F.expr("(_hd - pmod(_hd, _wd)) DIV _wd"))
    b = b.withColumn("_f1", F.expr("pmod(_hd, _wd) * CAST(2147483648 AS decimal(38,0))"))
    b = b.withColumn("pri_r1", F.expr("(_f1 - pmod(_f1, _wd)) DIV _wd"))
    b = b.withColumn("_f2", F.expr("pmod(_f1, _wd) * CAST(2147483648 AS decimal(38,0))"))
    b = b.withColumn("pri_r2", F.expr("(_f2 - pmod(_f2, _wd)) DIV _wd"))
    if not gcols:
        b = b.withColumn("_g", F.lit(0))
    keyed = b.select(
        *(gcols or ["_g"]),
        F.col("_id").alias(id_col),
        F.col("w").alias("weight"),
        "pri_q",
        "pri_r1",
        "pri_r2",
        "h",
    )
    ranked = grouped_index(
        keyed,
        gcols or ["_g"],
        ["pri_q", "pri_r1", "pri_r2", "h", id_col],
        "sample_rank",
    )
    return ranked.filter(F.col("sample_rank") < k).select(
        *gcols,
        id_col,
        "weight",
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )
