"""Spell correction, BM25F two-field ranking, free-form search and
autocomplete pipelines (pkg/searcher/searcher.go + spell_corrector.go).

- spell candidates (GetWordCandidates, spell_corrector.go:93-120): all vocab
  terms within Levenshtein distance 1 then 2 — the reference's Levenshtein
  automaton ∩ FST is an implementation detail; Spark's built-in
  `levenshtein()` against the broadcast term dictionary is JVM-side and
  exact. d=1 candidates come before d=2, each block sorted (deterministic
  stand-in for FST iteration order).
- candidate query cartesian product (GetCorrectQueryCandidates, :122-137):
  driver-side fold — query token counts are tiny by construction.
- LM argmax / top-3 (GetCorrectSpellingSuggestion :139-155,
  GetMatchedWordsAutocomplete :202-227): operators/ngram_lm.best_query.
- BM25F (scoreBM25Field, searcher.go:249-315): idf =
  log10(N-df+0.5)-log10(df+0.5) with df counted over BOTH fields;
  weight_f = W_f * tf / (1 + B*(len_f/avglen_f - 1)); score += idf *
  weight/(K1+weight). NOTE the reference uses NAME_B in the address branch
  too (searcher.go:301) — replicated faithfully.
  INTENTIONAL DEVIATION: searcher.go:255-288 shadows `ok` with the
  address-postings lookup, so the reference silently skips scoring a term
  that appears ONLY in the name field (no address postings). We score
  name-only terms too — rankings can differ from the reference exactly for
  such terms; the shadowing is a Go bug, not a semantic choice, and
  dropping name matches would contradict the NAME_WEIGHT=20 design.
- FreeFormQuery pipeline (searcher.go:150-246) and Autocomplete
  (searcher.go:402-491): tokenize -> vocab check -> correct -> score ->
  page -> fetch docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import ngram_lm, search

# searcher.go:28-38
K1_BM25F = 10.0
NAME_WEIGHT, NAME_B = 20.0, 0.95
ADDRESS_WEIGHT, ADDRESS_B = 1.0, 0.3


# Per-token candidate bound shared by the per-query AND batch spell paths:
# the cartesian interpretation fold is multiplicative in it (two OOV tokens
# at 10k candidates each would be 10^8 interpretations), and both paths
# must agree so batch_freeform_search stays row-for-row identical to
# freeform_search. Candidates are taken in (d, term) order either way.
#
# BEHAVIOR CHANGE (round 4, documented round 5): before the paths were
# unified, the single-query correct_query pooled up to 10,000 candidates
# per OOV token; it now shares this 64-candidate default so that
# batch_correct_queries == [correct_query(q) for q] holds row-for-row
# (tested). On a large dictionary where an OOV token has >64 terms within
# edit distance 2, the LM may therefore no longer see the best candidate
# and the correction can differ from the old behavior. Single-query
# callers who want the old pool can afford it — pass
# max_candidates_per_token=10000 explicitly (the fold is multiplicative,
# so only do this when queries have few OOV tokens).
DEFAULT_MAX_CANDIDATES_PER_TOKEN = 64


def candidate_queries(per_token: list[list[str]]) -> list[list[str]]:
    """Cartesian product fold (GetCorrectQueryCandidates)."""
    temp: list[list[str]] = [[]]
    for cands in per_token:
        temp = [p + [t] for p in temp for t in cands]
    return temp


def correct_query(
    spark: SparkSession,
    query: str,
    term_dict: DataFrame,
    counts: DataFrame,
    top: int = 1,
    prefix_last: bool = False,
    stem_roots: "frozenset | None" = None,
    max_candidates_per_token: int = DEFAULT_MAX_CANDIDATES_PER_TOKEN,
) -> list[list[str]]:
    """Tokenize + (optional stem) + vocab check + spell/prefix expand + LM
    rank.

    stem_roots: stem query tokens through the same Indonesian
    confix-stripper as the index side — searcher.go:158 stems every query
    token before the vocabulary check, so a stemmed index REQUIRES this.
    prefix_last=True gives autocomplete semantics: the last token expands by
    prefix match (GetMatchedWordBasedOnPrefix, spell_corrector.go:160-188)
    instead of edit distance, and `top` interpretations return (3 in the
    reference).

    Round 4: a batch of one on the batched spell spine (_batch_interps) —
    the per-query path previously issued one bounded levenshtein collect
    PER OOV token (linear jobs per query); now vocab probe + candidate
    generation + LM rank are each one job regardless of token count, and
    per-query and batch corrections share one audited code path."""
    return _batch_interps(
        spark, [query], term_dict, counts, top=top, prefix_last=prefix_last,
        max_candidates_per_token=max_candidates_per_token,
        stem_roots=stem_roots,
    )[0]


def batch_correct_queries(
    spark: SparkSession,
    queries: list[str],
    term_dict: DataFrame,
    counts: DataFrame,
    max_dist: int = 2,
    max_candidates_per_token: int = DEFAULT_MAX_CANDIDATES_PER_TOKEN,
    stem_roots: "frozenset | None" = None,
) -> list[list[str]]:
    """Spell-correct N queries with a CONSTANT number of Spark jobs.

    The per-query path (correct_query) runs a vocab probe + one levenshtein
    scan per OOV token + one LM job per query — fine for a REPL, linear in
    jobs for a batch. This path does, for the whole batch at once:

      1. ONE semi-join for vocab membership of every distinct token;
      2. ONE levenshtein join of the distinct OOV tokens against the term
         dictionary (d<=2 candidates, deterministic (d, term) order,
         bounded per token);
      3. ONE query_log_prob call scoring every candidate interpretation of
         every query (the 7 count-table joins amortize across the batch);
      4. driver-side argmax per original query (tiny).

    Returns the best interpretation per query, same semantics as
    correct_query(top=1) for each.
    """
    return [
        interps[0]
        for interps in _batch_interps(
            spark, queries, term_dict, counts, top=1, prefix_last=False,
            max_dist=max_dist,
            max_candidates_per_token=max_candidates_per_token,
            stem_roots=stem_roots,
        )
    ]


def _batch_interps(
    spark: SparkSession,
    queries: list[str],
    term_dict: DataFrame,
    counts: DataFrame,
    top: int = 1,
    prefix_last: bool = False,
    max_dist: int = 2,
    max_candidates_per_token: int = DEFAULT_MAX_CANDIDATES_PER_TOKEN,
    max_prefix: int = 10000,
    stem_roots: "frozenset | None" = None,
) -> list[list[list[str]]]:
    """Top-`top` interpretations for EVERY query with a CONSTANT number of
    Spark jobs (vocab semi-join + one levenshtein join + one prefix join
    when prefix_last + one LM scoring job), regardless of query count or
    interpretation count — the batched form of correct_query."""
    tok_lists = []
    for q in queries:
        toks = [t for t in q.lower().split() if t]
        if stem_roots is not None:
            from ..functions.stemmer import stem

            toks = [stem(t, stem_roots) for t in toks]
        if not toks:
            raise ValueError("query is empty")
        tok_lists.append(toks)

    all_tokens = sorted({t for toks in tok_lists for t in toks})
    tok_frame = spark.createDataFrame([(t,) for t in all_tokens], "term string")
    vocab = {
        r["term"] for r in tok_frame.join(term_dict, "term", "leftsemi").collect()
    }
    # tokens eligible for spell correction: every token, except each
    # query's LAST one in prefix mode (that one always prefix-expands,
    # spell_corrector.go:160-188)
    spellable = {
        t
        for toks in tok_lists
        for t in (toks[:-1] if prefix_last else toks)
    }
    unknown = sorted(spellable - vocab)

    cand_map: dict[str, list[str]] = {}
    if unknown:
        unk_frame = F.broadcast(
            spark.createDataFrame([(t,) for t in unknown], "token string")
        )
        w = Window.partitionBy("token").orderBy("d", "term")
        rows = (
            term_dict.crossJoin(unk_frame)
            .withColumn("d", F.levenshtein(F.col("token"), F.col("term")))
            .filter((F.col("d") >= 1) & (F.col("d") <= max_dist))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_candidates_per_token)
            .select("token", "term", "d")
            .collect()
        )
        # collect order is partition order — restore the contract order
        # (d=1 block then d=2, each sorted) per token
        rows.sort(key=lambda r: (r["token"], r["d"], r["term"]))
        for r in rows:
            cand_map.setdefault(r["token"], []).append(r["term"])

    prefix_map: dict[str, list[str]] = {}
    if prefix_last:
        lasts = sorted({toks[-1] for toks in tok_lists})
        last_frame = F.broadcast(
            spark.createDataFrame([(t,) for t in lasts], "prefix string")
        )
        wp = Window.partitionBy("prefix").orderBy("term")
        prows = (
            term_dict.crossJoin(last_frame)
            .filter(F.col("term").startswith(F.col("prefix")))
            .withColumn("rn", F.row_number().over(wp))
            .filter(F.col("rn") <= max_prefix)
            .select("prefix", "term")
            .collect()
        )
        prows.sort(key=lambda r: (r["prefix"], r["term"]))
        for r in prows:
            prefix_map.setdefault(r["prefix"], []).append(r["term"])

    # assemble candidate interpretations per query (reference cartesian fold)
    all_cands: list[list[str]] = []
    spans: list[tuple[int, int]] = []  # [start, end) into all_cands per query
    for toks in tok_lists:
        per_token = []
        for i, t in enumerate(toks):
            if prefix_last and i == len(toks) - 1:
                per_token.append(prefix_map.get(t) or [t])
            elif t in vocab:
                per_token.append([t])
            else:
                per_token.append(cand_map.get(t) or [t])
        cands = candidate_queries(per_token)
        spans.append((len(all_cands), len(all_cands) + len(cands)))
        all_cands.extend(cands)

    multi = [i for i, (s, e) in enumerate(spans) if e - s > 1]
    if not multi:
        return [[all_cands[s]] for s, _ in spans]

    scored = ngram_lm.query_log_prob(spark, all_cands, counts).collect()
    by_id = {r["query_id"]: r["log_prob"] for r in scored}

    def keyf(i):
        p = by_id.get(i)
        if p is None or p != p:  # NaN
            p = float("-inf")
        return (-p, i)

    out: list[list[list[str]]] = []
    for s, e in spans:
        if e - s == 1:
            out.append([all_cands[s]])
            continue
        order = sorted(range(s, e), key=keyf)
        out.append([all_cands[i] for i in order[:top]])
    return out


class BM25FIndex:
    """The 'loaded index' of the reference (Searcher.LoadMainIndex,
    searcher.go:84-133): ONE materialized impacts(term, doc_id, c) table.

    Every BM25F quantity except a query's term list is fixed per index —
    tf, field lengths and their averages, df over BOTH fields, idf — so
    the table stores each (term, doc) pair's final contribution summed
    over the two fields:

        c = idf * sum_f wtd_f / (K1 + wtd_f),
        wtd_f = W_f * tf_f / (1 + NAME_B * (dl_f / avgdl_f - 1))

    (NAME_B in both fields — the reference's quirk, searcher.go:301). A
    query only filters the table on its terms and sums c per doc, so no
    request recomputes df, the field joins or the weight formula. Building
    costs one stats collect plus one checkpoint job."""

    def __init__(
        self,
        places: DataFrame,
        doc_id: str = "id",
        name_col: str = "name",
        address_col: str = "address",
        stem_roots: "frozenset | None" = None,
    ):
        """stem_roots: enable index-side Indonesian stemming (the reference
        stems every indexed token, indexer.go:804); query tokens must then
        be stemmed too (correct_query(stem_roots=...)), like
        searcher.go:158."""
        self.stem_roots = stem_roots
        toks = [
            search.doc_tokens(places, doc_id, col, stem_roots=stem_roots)
            for col in (name_col, address_col)
        ]
        stats = [search.doc_stats(t) for t in toks]
        n_docs, avg_name, avg_addr = (
            stats[0].agg(F.count("*"), F.avg("dl"))
            .crossJoin(stats[1].agg(F.avg("dl")))
            .first()
        )
        sat = None
        for t, st, w, avgdl in zip(
            toks, stats, (NAME_WEIGHT, ADDRESS_WEIGHT), (avg_name, avg_addr)
        ):
            wtd = w * (
                F.col("tf")
                / (1.0 + NAME_B * (F.col("dl") / F.lit(float(avgdl or 1.0)) - 1.0))
            )
            part = search.build_postings(t).join(st, "doc_id").select(
                "term", "doc_id", (wtd / (K1_BM25F + wtd)).alias("sat")
            )
            sat = part if sat is None else sat.unionByName(part)
        idf = F.log10(F.lit(float(n_docs)) - F.col("df") + 0.5) - F.log10(
            F.col("df") + 0.5
        )
        # one shuffle by term serves both the (term, doc) field sum and the
        # per-term df window (df = distinct docs = rows per term after it)
        self.impacts = (
            sat.repartition("term")
            .groupBy("term", "doc_id")
            .agg(F.sum("sat").alias("sat"))
            .withColumn("df", F.count("*").over(Window.partitionBy("term")))
            .select("term", "doc_id", (F.col("sat") * idf).alias("c"))
            .localCheckpoint(eager=True)
        )


def _impact_scores(rows: DataFrame, keys: list[str]) -> DataFrame:
    """(*keys, score, n_terms) over matched impacts rows.

    Each group's contributions are summed in TERM order: a plain sum()
    depends on the order rows arrive in, so docs with identical per-term
    contributions could score an ulp apart and break the doc_id tie-break.
    n_terms counts the matched distinct terms (one impacts row per (term,
    doc)), which is the autocomplete AND check."""
    cs = F.array_sort(F.collect_list(F.struct("term", "c")))
    return rows.groupBy(*keys).agg(
        F.aggregate(cs, F.lit(0.0), lambda acc, x: acc + x["c"]).alias("score"),
        F.count("*").alias("n_terms"),
    )


def bm25f_scores(
    places: DataFrame,
    query_terms: list[str],
    doc_id: str = "id",
    name_col: str = "name",
    address_col: str = "address",
    index: BM25FIndex | None = None,
) -> DataFrame:
    """(doc_id, score) — field-weighted BM25F over name + address."""
    if index is None:
        index = BM25FIndex(places, doc_id, name_col, address_col)
    rows = index.impacts.filter(F.col("term").isin(query_terms))
    return _impact_scores(rows, ["doc_id"]).select("doc_id", "score")


def freeform_search(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    query: str,
    k: int = 10,
    offset: int = 0,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """FreeFormQuery (searcher.go:150-246): spell-correct -> BM25F ->
    stable top-k page -> fetch docs (broadcast join against places).
    With a stemmed index, query tokens stem through the same dictionary
    (searcher.go:158)."""
    roots = index.stem_roots if index is not None else None
    corrected = correct_query(
        spark, query, term_dict, counts, top=1, stem_roots=roots
    )[0]
    scores = bm25f_scores(places, corrected, index=index)
    # TakeOrderedAndProject top-k: per-partition top-(offset+k) + driver
    # merge; the rank window after it only sees <= offset+k rows
    top = search._ranked_topk(
        scores, [F.desc("score"), F.col("doc_id")], k, offset
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("rank", "score", "id", "name", "lat", "lon", "address", "type")
        .orderBy("rank")
    )


def autocomplete(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    query: str,
    k: int = 10,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """Autocomplete (searcher.go:402-491): prefix-expand last token, top-3
    LM interpretations, AND-intersection semantics per interpretation
    (scoreBM25FAutocomplete :493-532), BM25F rank, merge."""
    if index is None:
        index = BM25FIndex(places)
    interps = correct_query(
        spark, query, term_dict, counts, top=3, prefix_last=True,
        stem_roots=index.stem_roots,
    )
    results = None
    for qi, terms in enumerate(interps):
        # AND semantics (searcher.go:493-532): the doc matched every
        # distinct query term in name or address
        part = (
            _impact_scores(
                index.impacts.filter(F.col("term").isin(terms)), ["doc_id"]
            )
            .filter(F.col("n_terms") == len(set(terms)))
            .select("doc_id", "score", F.lit(qi).alias("interp"))
        )
        results = part if results is None else results.unionByName(part)
    top = search._ranked_topk(
        results, [F.col("interp"), F.desc("score"), F.col("doc_id")], k
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("rank", "interp", "score", "id", "name", "address")
        .orderBy("rank")
    )


# --- batched BM25F serving: many queries / interpretations, ONE plan ---------

def batch_bm25f_scores(
    index: BM25FIndex, interps: DataFrame, require_all: bool = False
) -> DataFrame:
    """(query_id, interp, doc_id, score) for a whole batch of query
    interpretations — `interps` is (query_id long, interp int,
    terms array<string>).

    The exploded (query_id, interp, term) batch BROADCASTS onto the
    index's impacts table; one repartition by query_id feeds both the
    score aggregate and any top-k window downstream. require_all=True adds
    the autocomplete AND-intersection (every distinct query term matched
    in name or address — searcher.go:493-532) from the same joined rows,
    so the AND check costs no extra pass."""
    qt = interps.select(
        "query_id", "interp",
        F.explode(F.array_distinct("terms")).alias("term"),
    )
    scored = _impact_scores(
        F.broadcast(qt).join(index.impacts, "term").repartition("query_id"),
        ["query_id", "interp", "doc_id"],
    )
    if require_all:
        need = interps.select(
            "query_id", "interp",
            F.size(F.array_distinct("terms")).alias("_n_terms"),
        )
        scored = scored.join(F.broadcast(need), ["query_id", "interp"]).filter(
            F.col("n_terms") == F.col("_n_terms")
        )
    return scored.select("query_id", "interp", "doc_id", "score")


def batch_freeform_search(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    queries: list[str],
    k: int = 10,
    offset: int = 0,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """FreeFormQuery over a whole query batch on the batch spine: ONE
    batched spell-correct (constant jobs) + ONE batched BM25F plan +
    per-query top-k window (partitioned by query_id — never a global
    single-partition sort). Row-for-row identical to freeform_search per
    query; returns (query_id, rank, score, id, name, lat, lon, address,
    type)."""
    if index is None:
        index = BM25FIndex(places)
    corrected = batch_correct_queries(
        spark, queries, term_dict, counts, stem_roots=index.stem_roots
    )
    interps = spark.createDataFrame(
        [(qid, 0, terms) for qid, terms in enumerate(corrected)],
        "query_id long, interp int, terms array<string>",
    )
    scores = batch_bm25f_scores(index, interps)
    wq = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    top = (
        scores.withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select(
            "query_id", "rank", "score", "id", "name", "lat", "lon",
            "address", "type",
        )
        .orderBy("query_id", "rank")
    )


def batch_autocomplete(
    spark: SparkSession,
    places: DataFrame,
    term_dict: DataFrame,
    counts: DataFrame,
    queries: list[str],
    k: int = 10,
    index: "BM25FIndex | None" = None,
) -> DataFrame:
    """Autocomplete over a whole query batch with a CONSTANT number of
    Spark jobs in both query count and interpretation count: one batched
    prefix+spell+LM pass picks the top-3 interpretations per query, then
    ONE batched BM25F plan scores every (query, interpretation) with AND
    semantics derived from the same joined posting rows (no corpus
    re-tokenize — the round-2 per-interpretation rescan is gone on both
    the batch and serving paths). Per query, rows match autocomplete().

    Returns (query_id, rank, interp, score, id, name, address)."""
    if index is None:
        index = BM25FIndex(places)
    per_q = _batch_interps(
        spark, queries, term_dict, counts, top=3, prefix_last=True,
        stem_roots=index.stem_roots,
    )
    interps = spark.createDataFrame(
        [
            (qid, qi, terms)
            for qid, interps_q in enumerate(per_q)
            for qi, terms in enumerate(interps_q)
        ],
        "query_id long, interp int, terms array<string>",
    )
    scores = batch_bm25f_scores(index, interps, require_all=True)
    wq = Window.partitionBy("query_id").orderBy(
        "interp", F.desc("score"), F.col("doc_id")
    )
    top = (
        scores.withColumn("rank", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank") <= k)
    )
    return (
        places.join(F.broadcast(top), places["id"] == top["doc_id"])
        .select("query_id", "rank", "interp", "score", "id", "name", "address")
        .orderBy("query_id", "rank")
    )
