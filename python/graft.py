"""PySpark binding for the graft parity operators.

Mirrors the reference's public Python surface (fburic/pandance
``pandance/__init__.py``: ``fuzzy_join``, ``theta_join``, ``ineq_join``,
``_estimate_mem_cost_cartesian``) over PySpark DataFrames, plus the
engine's ``as_of_join`` extension. Signatures, defaults (``tol=1e-3``,
``suffixes=('_x', '_y')``), and dtype dispatch (float/Decimal/Timedelta
tolerance -> numeric/decimal/time path, pandance/pandance.py:261-312)
follow the reference; execution is the Scala engine's — the py4j facade
``graft.api.PyApi`` adapts arguments and adds no logic, so results are
bit-identical to the Scala/SQL forms proven against the DuckDB oracle.

Usage::

    from graft import fuzzy_join, theta_join, ineq_join
    out = fuzzy_join(left_df, right_df, on="price", tol=0.5)

The graft jar (or ``target/scala-2.13/classes``) must be on the driver
classpath; any SparkSession works, though installing
``graft.plans.GraftExtensions`` enables the range-join physical
strategy ``ineq_join`` wants at scale.
"""

import datetime
import decimal

from pyspark.sql import DataFrame

__all__ = ["fuzzy_join", "theta_join", "ineq_join", "as_of_join",
           "estimate_mem_cost_cartesian_mib",
           # LLM-pipeline flagships
           "dedup_exact", "dedup_pairs_minhash_lsh",
           "dedup_pairs_ngram_jaccard", "dedup_pairs_simhash",
           "char_span_pairs", "strip_repeated_char_spans",
           "connected_components", "sem_dedup", "ann_topk_brute",
           "bm25_topk", "decontaminate", "chunk_by_tokens", "pack_greedy",
           "dsir_score"]


def _api(df):
    return df.sparkSession._jvm.graft.api.PyApi


def _wrap(df, jdf):
    return DataFrame(jdf, df.sparkSession)


def _nz(s):
    return "" if s is None else s


def _tol_micros(tol):
    """A Timedelta-like tolerance (datetime.timedelta, pandas.Timedelta,
    numpy.timedelta64) as whole microseconds."""
    if isinstance(tol, datetime.timedelta):
        return int(tol / datetime.timedelta(microseconds=1))
    # pandas.Timedelta subclasses datetime.timedelta; numpy.timedelta64
    # and anything else duck-type through total_seconds / to_timedelta64
    ts = getattr(tol, "total_seconds", None)
    if ts is not None:
        return int(round(ts() * 1_000_000))
    raise TypeError(f"unsupported time tolerance type: {type(tol)}")


def _is_time_tol(tol):
    return isinstance(tol, datetime.timedelta) or hasattr(tol, "total_seconds")


def fuzzy_join(left, right, on=None, left_on=None, right_on=None,
               tol=1e-3, suffixes=("_x", "_y")):
    """Approximate inner join on a numeric, decimal, or time column —
    ``abs(l - r) <= tol`` matches (inclusive), reference
    pandance/pandance.py:22-208. The tolerance type picks the path,
    like the reference's dtype dispatch: ``datetime.timedelta`` /
    ``pandas.Timedelta`` -> time join, ``decimal.Decimal`` -> exact
    decimal join, anything numeric -> the numeric band join.
    """
    api, sx, sy = _api(left), suffixes[0], suffixes[1]
    if _is_time_tol(tol):
        jdf = api.fuzzyJoinTime(left._jdf, right._jdf, _tol_micros(tol),
                                _nz(on), _nz(left_on), _nz(right_on), sx, sy)
    elif isinstance(tol, decimal.Decimal):
        jdf = api.fuzzyJoinDecimal(left._jdf, right._jdf, str(tol),
                                   _nz(on), _nz(left_on), _nz(right_on), sx, sy)
    else:
        jdf = api.fuzzyJoinNumeric(left._jdf, right._jdf, float(tol),
                                   _nz(on), _nz(left_on), _nz(right_on), sx, sy)
    return _wrap(left, jdf)


def theta_join(left, right, condition=None, on=None, left_on=None,
               right_on=None, suffixes=("_x", "_y")):
    """Inner join under an arbitrary binary relation, reference
    pandance/pandance.py:331-566. ``condition`` takes the two (suffixed)
    join Columns and returns a boolean Column — the Catalyst-visible
    form, so the predicate stays inside codegen. (The reference's
    ``n_processes``/``par_threshold`` knobs do not exist here: partition
    parallelism is native.) For an opaque Python predicate, wrap it in
    ``pyspark.sql.functions.udf`` inside ``condition``.
    """
    if condition is None:
        raise TypeError("theta_join: condition is required")
    api = _api(left)
    prepared = api.thetaPrepare(left._jdf, right._jdf, _nz(on), _nz(left_on),
                                _nz(right_on), suffixes[0], suffixes[1])
    l = _wrap(left, prepared[0])
    r = _wrap(right, prepared[1])
    cond = condition(l[prepared[2]], r[prepared[3]])
    return _wrap(left, api.thetaJoin(l._jdf, r._jdf, cond._jc))


def ineq_join(left, right, how="<=", on=None, left_on=None,
              right_on=None, suffixes=("_x", "_y"), prune=True):
    """Inequality inner join, ``how`` in {<, <=, >=, >} — reference
    pandance/pandance.py:614-846, including the M4 min/max fast paths
    (answered from parquet footer statistics when the inputs are bare
    parquet scans).
    """
    jdf = _api(left).ineqJoin(left._jdf, right._jdf, how, _nz(on),
                              _nz(left_on), _nz(right_on),
                              suffixes[0], suffixes[1], bool(prune))
    return _wrap(left, jdf)


def as_of_join(left, right, tol, right_id, on=None, left_on=None,
               right_on=None, direction="nearest", by=(),
               suffixes=("_x", "_y"), join_type="inner",
               allow_exact_matches=True):
    """Nearest-event time join (the engine's extension beyond the
    reference): each left row takes the closest right row within
    ``tol`` (a timedelta), optionally per ``by`` group.
    """
    sc = left.sparkSession.sparkContext
    gw = sc._gateway
    jby = gw.new_array(gw.jvm.java.lang.String, len(by))
    for i, c in enumerate(by):
        jby[i] = c
    jdf = _api(left).asOfJoinTime(
        left._jdf, right._jdf, _tol_micros(tol), right_id, _nz(on),
        _nz(left_on), _nz(right_on), direction, jby,
        suffixes[0], suffixes[1], join_type, bool(allow_exact_matches))
    return _wrap(left, jdf)


def estimate_mem_cost_cartesian_mib(a, a_col, b, b_col):
    """Estimated MiB of the Cartesian join result — the reference's
    ``_estimate_mem_cost_cartesian`` (pandance/pandance.py:894-917).
    """
    return _api(a).estimateMemCostCartesianMiB(a._jdf, a_col, b._jdf, b_col)


# ---- LLM-pipeline flagships (the engine's beyond-reference surface) ----

def dedup_exact(df, text_col, id_col):
    """Exact-duplicate removal: keep the lowest-``id_col`` row per
    distinct ``text_col`` value (hash aggregation, no pair join)."""
    return _wrap(df, _api(df).dedupExact(df._jdf, text_col, id_col))


def dedup_pairs_minhash_lsh(df, id_col, text_col, n=3, num_hashes=128,
                            bands=32, threshold=0.6):
    """Near-dup candidate pairs via banded MinHash LSH, exact-verified
    at ``threshold`` Jaccard over word ``n``-gram shingles."""
    return _wrap(df, _api(df).dedupPairsMinhashLsh(
        df._jdf, id_col, text_col, int(n), int(num_hashes), int(bands),
        float(threshold)))


def dedup_pairs_ngram_jaccard(df, id_col, text_col, n=3, threshold=0.6):
    """EXACT Jaccard >= threshold pairs over word n-gram shingles
    (posting-list join, never all-pairs)."""
    return _wrap(df, _api(df).dedupPairsNgramJaccard(
        df._jdf, id_col, text_col, int(n), float(threshold)))


def dedup_pairs_simhash(df, id_col, text_col, max_hamming=7):
    """SimHash near-dup pairs within ``max_hamming`` bits (pigeonhole
    blocking — exact for the radius)."""
    return _wrap(df, _api(df).dedupPairsSimhash(
        df._jdf, id_col, text_col, int(max_hamming)))


def char_span_pairs(df, id_col, text_col, k=20, min_span_chars=40,
                    include_self=False):
    """Maximal repeated CHARACTER spans between doc pairs — the
    suffix-array exact-substring dedup view (Lee et al. 2022): one row
    per maximal verbatim cross-doc run of >= ``min_span_chars`` chars,
    as ``(id_a, id_b, a_start, b_start, span_chars)`` with 0-based
    starts. Finds the unaligned spans token-window masking misses."""
    return _wrap(df, _api(df).charSpanPairs(
        df._jdf, id_col, text_col, int(k), int(min_span_chars),
        bool(include_self)))


def strip_repeated_char_spans(df, id_col, text_col, k=20,
                              min_span_chars=40, include_self=False):
    """The remover for :func:`char_span_pairs`: cut every character
    range duplicating a smaller-id doc's content from the larger-id
    copy (each repeated span survives only in its minimal-id holder).
    Returns ``df`` with ``text_col`` rewritten."""
    return _wrap(df, _api(df).stripRepeatedCharSpans(
        df._jdf, id_col, text_col, int(k), int(min_span_chars),
        bool(include_self)))


def connected_components(pairs, a_col, b_col, max_iter=25,
                         local_threshold=250000, checkpoint_dir=None):
    """Duplicate clusters from a pair list: ``(id, component)`` with
    component = min reachable id. Pass ``checkpoint_dir`` on a real
    cluster for durable per-round checkpointing (executor-loss safe)."""
    return _wrap(pairs, _api(pairs).connectedComponents(
        pairs._jdf, a_col, b_col, int(max_iter), int(local_threshold),
        _nz(checkpoint_dir)))


def sem_dedup(df, id_col, vec_col, k, threshold, iters=5, max_cell_size=0,
              checkpoint_dir=None):
    """SemDeDup (Abbas et al. 2023): k-means-blocked semantic dedup over
    an embedding column; keeps the most atypical member per duplicate
    group. ``max_cell_size > 0`` arms the hierarchical re-cluster
    fallback; ``checkpoint_dir`` makes the iteration executor-loss
    safe."""
    return _wrap(df, _api(df).semDeDup(
        df._jdf, id_col, vec_col, int(k), float(threshold), int(iters),
        int(max_cell_size), _nz(checkpoint_dir)))


def ann_topk_brute(queries, corpus, id_col, vec_col, k):
    """Exact cosine top-k neighbors of each query vector (the baseline
    the approximate indexes are measured against)."""
    return _wrap(queries, _api(queries).annTopKBrute(
        queries._jdf, corpus._jdf, id_col, vec_col, int(k)))


def bm25_topk(docs, id_col, text_col, terms, k, k1=1.2, b=0.75):
    """BM25 top-k documents for a term list (exact 1e-8-grid scores,
    deterministic tie order)."""
    sc = docs.sparkSession.sparkContext
    gw = sc._gateway
    jterms = gw.new_array(gw.jvm.java.lang.String, len(terms))
    for i, t in enumerate(terms):
        jterms[i] = t
    return _wrap(docs, _api(docs).bm25TopK(
        docs._jdf, id_col, text_col, jterms, int(k), float(k1), float(b)))


def decontaminate(train, eval_df, id_col, text_col, n=8,
                  broadcast_eval=True):
    """Benchmark decontamination: train docs sharing a word ``n``-gram
    with the eval side, flagged with collision count and contamination
    ratio. The eval side broadcasts as 64-bit hashes (MBs vs TBs)."""
    return _wrap(train, _api(train).decontaminateNgramOverlap(
        train._jdf, eval_df._jdf, id_col, text_col, int(n),
        bool(broadcast_eval)))


def chunk_by_tokens(df, id_col, text_col, max_tokens, overlap=0):
    """Split documents into token windows (stride = max_tokens −
    overlap); zero-shuffle scan projection."""
    return _wrap(df, _api(df).chunkByTokens(
        df._jdf, id_col, text_col, int(max_tokens), int(overlap)))


def pack_greedy(docs, id_col, tokens_col, max_len, chunk_expr):
    """Greedy sequence packing into ``max_len``-token bins, one packing
    stream per ``chunk_expr`` group (a SQL expression string, e.g.
    ``"doc_id div 1000"``)."""
    return _wrap(docs, _api(docs).packGreedy(
        docs._jdf, id_col, tokens_col, int(max_len), chunk_expr))


def dsir_score(raw, id_col, text_col, target, target_text_col,
               buckets=4096):
    """DSIR importance log-weights of ``raw`` docs against a curated
    ``target`` corpus (Xie et al., NeurIPS 2023) — hashed n-gram
    profiles, exact grid arithmetic."""
    return _wrap(raw, _api(raw).dsirScore(
        raw._jdf, id_col, text_col, target._jdf, target_text_col,
        int(buckets)))


# ---- persisted-index lifecycle (build once, serve every batch) ----

def build_bm25_index(docs, id_col, text_col, path):
    """Build a persisted BM25 index (atomic versioned publish)."""
    _api(docs).buildBm25Index(docs._jdf, id_col, text_col, path)


def append_to_bm25_index(docs, id_col, text_col, path):
    """Append a crawl batch as an immutable delta segment."""
    _api(docs).appendToBm25Index(docs._jdf, id_col, text_col, path)


def delete_from_bm25_index(deleted_ids, id_col, path):
    """Tombstone-delete documents (stats-correcting: df/N/avgdl shift
    as if the docs were never indexed)."""
    _api(deleted_ids).deleteFromBm25Index(deleted_ids._jdf, id_col, path)


def bm25_search_index(spark, path, terms, k, k1=1.2, b=0.75):
    """BM25 top-k from a persisted index — resolves the chain instead
    of rescanning the corpus."""
    from pyspark.sql import DataFrame as _DF
    gw = spark.sparkContext._gateway
    jterms = gw.new_array(gw.jvm.java.lang.String, len(terms))
    for i, t in enumerate(terms):
        jterms[i] = t
    jdf = spark._jvm.graft.api.PyApi.bm25SearchIndex(
        spark._jsparkSession, path, jterms, int(k), float(k1), float(b))
    return _DF(jdf, spark)


def build_ivf_index(corpus, id_col, vec_col, path, n_centroids=16, iters=5):
    """Train + persist an IVF index over an embedding column."""
    _api(corpus).buildIvfIndex(corpus._jdf, id_col, vec_col, path,
                               int(n_centroids), int(iters))


def search_ivf(queries, path, id_col, vec_col, k, n_probe=4):
    """Approximate top-k from a persisted IVF index (cell-pruned
    probes; raise ``n_probe`` toward the centroid count for recall)."""
    return _wrap(queries, _api(queries).searchIvf(
        queries._jdf, path, id_col, vec_col, int(k), int(n_probe)))


def build_eval_index(eval_df, text_col, path, n=8):
    """Persist a benchmark suite as shingle-hash counts — the
    decontamination artifact (text never leaves the build job)."""
    _api(eval_df).buildEvalIndex(eval_df._jdf, text_col, path, int(n))


def delete_from_eval_index(withdrawn_eval, text_col, path):
    """Withdraw a benchmark: its shingle counts retract; hashes shared
    with surviving benchmarks keep gating."""
    _api(withdrawn_eval).deleteFromEvalIndex(withdrawn_eval._jdf,
                                             text_col, path)


def decontaminate_gate_from_index(train, id_col, text_col, path):
    """The ingest gate against a persisted eval index: keeps only docs
    sharing zero shingles with the suite (works on streams too)."""
    return _wrap(train, _api(train).decontaminateGateFromIndex(
        train._jdf, id_col, text_col, path))


def current_index_version(spark, path):
    """The version id ``_LATEST`` names right now."""
    return spark._jvm.graft.api.PyApi.currentIndexVersion(
        spark._jsparkSession, path)


def pin_index(path, version):
    """A version-pinned read path: every serving call accepts it and
    reads THAT version's chain, ignoring later publishes — record it
    at training launch, replay the exact index view in an audit."""
    # pure string manipulation on the JVM side; no session needed
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    return spark._jvm.graft.api.PyApi.pinIndex(path, version)
