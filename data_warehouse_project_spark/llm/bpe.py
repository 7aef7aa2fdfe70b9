"""BPE merge-rule induction — distributed tokenizer training over
the corpus word-frequency table (round 7; the fourth iterative
workload beside PageRank / affinity / BFS, and the LLM-pipeline step
none of the counting ops cover: LEARNING the subword vocabulary).

Algorithm (Sennrich et al. 2016, the standard BPE trainer): words
split into character symbols + an end-of-word marker; each round
counts adjacent symbol pairs weighted by word frequency, merges the
most frequent pair (ties broken lexicographically) everywhere, and
records the rule. N_MERGES rounds yield the merge table a tokenizer
replays at encode time.

Scale design: training runs on the WORD-COUNT table, not the corpus
— the corpus is touched exactly once (one explode → word groupBy,
map-side combinable); every round after that is vocabulary-keyed:
one pair-explode over the vocab frame (≤ avg-word-len × vocab rows),
one pair aggregation, a 1-row argmax, and a pure-JVM array fold
applying the merge (higher-order ``aggregate``, no Python in the
loop). State is the (word, symbols, n) frame, localCheckpoint-ed per
round so round k's plan doesn't embed rounds 1..k-1 (the CC/PageRank
lineage discipline, llm/clusters.py). The per-round driver action
collects ONE row (the winning pair) — bounded O(1) coordination per
iteration, the same class as CC's convergence probe.

Determinism: pair counts are exact integer sums; the winner is
(count DESC, left, right) — total order, no hash involvement.
Oracle: the whole loop is not SQL-expressible (rows-only registry
entry); correctness is pinned by a planted hand-computable corpus,
a full differential test against a plain-Python reference BPE
on the real sf0.001 word counts (tests/test_llm_ops.py), AND the
driver-visible ``bpe_merge_floor`` gate (VERDICT r7 #6): a
pinned-constant-oracle query that re-runs the differential against
``reference_merges`` on a bounded deterministic document slice
inside the query itself, at whatever scale the driver passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..sources.catalog import Catalog

#: number of merge rules to learn
N_MERGES = 8

#: end-of-word marker symbol (never a corpus character)
EOW = "</w>"


def word_symbol_state(docs: DataFrame) -> DataFrame:
    """(word, symbols, n): corpus word counts with each word split
    into single-character symbols + the EOW marker."""
    return (
        docs.select(F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .withColumn(
            "symbols",
            F.concat(
                F.filter(F.split(F.col("word"), ""),
                         lambda s: s != F.lit("")),
                F.array(F.lit(EOW))))
        .select("word", "symbols", "n")
    )


def pair_counts(state: DataFrame) -> DataFrame:
    """(left, right, c): adjacent-symbol pair frequencies weighted by
    word count — the per-round aggregation."""
    return (
        state.filter(F.size("symbols") >= 2)
        .select("n", F.explode(F.expr(
            "transform(sequence(0, size(symbols) - 2), "
            "i -> struct(symbols[i] AS l, symbols[i + 1] AS r))"))
            .alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("n").cast("long").alias("c"))
    )


def apply_merge(state: DataFrame, left: str, right: str) -> DataFrame:
    """Merge every non-overlapping (left, right) occurrence
    left-to-right via a pure-JVM array fold. The greedy fold is
    exactly reference BPE: a just-merged token can't re-merge with
    the next symbol unless it independently matches the rule. The
    rule attaches as a broadcast one-row frame (never spliced into a
    SQL literal — corpus symbols may contain quotes/backslashes)."""
    spark = state.sparkSession
    rule = spark.createDataFrame(
        [(left, right, left + right)], "mlft string, mrgt string, mcat string")
    merged = F.expr(
        "aggregate(symbols, cast(array() as array<string>), "
        "(acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = mlft "
        "AND s = mrgt, "
        "concat(slice(acc, 1, size(acc) - 1), array(mcat)), "
        "concat(acc, array(s))))")
    return (state.crossJoin(F.broadcast(rule))
            .withColumn("symbols", merged)
            .drop("mlft", "mrgt", "mcat"))


def learn_merges(docs: DataFrame, n_merges: int = N_MERGES,
                 return_state: bool = False):
    """Run the trainer; returns [{step, left, right, pair_count}]
    (and, with ``return_state``, the final (word, symbols, n) frame —
    the trained segmentation of every corpus word)."""
    state = word_symbol_state(docs).localCheckpoint()
    rules: list[dict] = []
    for step in range(1, n_merges + 1):
        top = (pair_counts(state)
               .orderBy(F.col("c").desc(), "left", "right")
               .limit(1).collect())
        if not top:
            break
        row = top[0]
        rules.append({"step": step, "left": row["left"],
                      "right": row["right"], "pair_count": row["c"]})
        # lazy checkpoint (r12): the truncation point still exists in
        # the plan, but materialization rides the NEXT round's
        # pair-count job instead of paying a dedicated per-round job
        # (identical rules verified; first-execution wall 12.1 s →
        # 5.0 s at sf0.1 on a loaded host)
        state = apply_merge(state, row["left"], row["right"]) \
            .localCheckpoint(eager=False)
    return (rules, state) if return_state else rules


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only): the learned merge table."""
    rules = learn_merges(Catalog(spark, sf_dir).documents)
    return spark.createDataFrame(
        [(r["step"], r["left"], r["right"], r["pair_count"])
         for r in rules],
        "step long, left string, right string, pair_count long")


register("bpe_merge_rules", bpe_merge_rules, None)


#: subword vocabulary report size
VOCAB_TOP = 50


def bpe_subword_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only): the learned subword vocabulary —
    after replaying the N_MERGES rules, every corpus word is a
    sequence of subword symbols; this reports the top-VOCAB_TOP
    subwords by corpus frequency (count DESC, symbol ASC — total
    order). The final training state IS the segmentation, so encode
    is a vocabulary-keyed explode, never a corpus rescan."""
    _, state = learn_merges(Catalog(spark, sf_dir).documents,
                            return_state=True)
    return (
        state.select(F.explode("symbols").alias("subword"), "n")
        .groupBy("subword")
        .agg(F.sum("n").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "subword")
        .limit(VOCAB_TOP)
    )


register("bpe_subword_vocab", bpe_subword_vocab, None)


#: deterministic corpus slice the merge floor trains on — bounded at
#: any scale factor (the gate's cost must not grow with the corpus)
BPE_FLOOR_DOCS = 200


def reference_merges(word_counts: list[tuple[str, int]],
                     n_merges: int = N_MERGES) -> list[dict]:
    """Plain-Python Sennrich reference trainer over (word, count)
    pairs — the spec the distributed trainer must reproduce exactly:
    same winner rule (count DESC, left, right), same greedy
    left-to-right non-overlapping merge fold."""
    state = [(tuple(w) + (EOW,), c) for w, c in word_counts]
    rules: list[dict] = []
    for step in range(1, n_merges + 1):
        pc: dict[tuple[str, str], int] = {}
        for syms, c in state:
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                pc[pair] = pc.get(pair, 0) + c
        if not pc:
            break
        (left, right), c = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        rules.append({"step": step, "left": left, "right": right,
                      "pair_count": c})
        cat = left + right
        nxt = []
        for syms, cnt in state:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = cat
                else:
                    out.append(s)
            nxt.append((tuple(out), cnt))
        state = nxt
    return rules


def bpe_merge_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible BPE trainer gate (VERDICT r7 #6; pinned-constant
    oracle, the cms/pca floor pattern) — one row asserting:
    (a) the DISTRIBUTED trainer's full rule table on a deterministic
        BPE_FLOOR_DOCS-document slice equals the plain-Python
        reference trainer's on the same slice's word counts, rule for
        rule including pair counts (a true differential, stronger
        than pinned rule constants: it survives driver testdata
        regeneration);
    (b) winner pair counts are non-increasing over steps (structural
        BPE invariant: a merge can only create pairs with count ≤ the
        merged pair's count, and existing pairs only lose
        occurrences);
    (c) exactly N_MERGES rules were learned.
    The slice (orderBy doc_id, limit) and the collected word counts
    are bounded at any corpus size, so the gate is O(slice) — the
    same bounded-cost discipline as the sketch floors."""
    docs = (Catalog(spark, sf_dir).documents
            .orderBy("doc_id").limit(BPE_FLOOR_DOCS))
    rules = learn_merges(docs)
    wc = [(r["word"], r["n"])
          for r in word_symbol_state(docs).select("word", "n").collect()]
    ref = reference_merges(wc, N_MERGES)
    as_tuples = lambda rs: [(r["step"], r["left"], r["right"],  # noqa: E731
                             r["pair_count"]) for r in rs]
    match = as_tuples(rules) == as_tuples(ref)
    noninc = all(rules[i]["pair_count"] >= rules[i + 1]["pair_count"]
                 for i in range(len(rules) - 1))
    return spark.createDataFrame(
        [(len(rules), match, noninc)],
        "n_rules long, rules_match_reference boolean,"
        " counts_nonincreasing boolean")


BPE_MERGE_FLOOR_SQL = f"""
SELECT CAST({N_MERGES} AS BIGINT) AS n_rules,
       TRUE AS rules_match_reference,
       TRUE AS counts_nonincreasing
"""

register("bpe_merge_floor", bpe_merge_floor, BPE_MERGE_FLOOR_SQL)


# ---------------------------------------------------------------------------
# Encode (tokenizer APPLY) — round 12. Training learns the merge
# table; encode replays it over a corpus, including words the trainer
# never saw. At 100 TB encode is the step that actually touches every
# byte, so its scale shape matters more than the trainer's: the
# corpus is scanned ONCE (one explode → (source, word) groupBy,
# map-side combinable), the iterative merge replay runs on the
# DISTINCT-WORD table (vocabulary-sized, orders of magnitude smaller
# than the corpus), and per-source stats come from one word-keyed
# join of the two vocabulary-sized frames. No Python anywhere in the
# path — the replay is the same pure-JVM array fold the trainer uses.
# ---------------------------------------------------------------------------

#: deterministic training slice for the encode queries — train/encode
#: SPLIT is the production shape (the encoded corpus contains words
#: the trainer never saw; their symbols simply stay unmerged where no
#: rule applies)
BPE_TRAIN_DOCS = 100


def encode_state(words: DataFrame, rules: list[dict]) -> DataFrame:
    """Replay a learned merge table, in rule order, over a
    (word, symbols, ...) frame — reference BPE encode: each rule is
    one greedy left-to-right non-overlapping pass (the same
    `apply_merge` fold the trainer uses, so train and encode cannot
    disagree on merge semantics). The chained plan is N_MERGES
    broadcast-rule folds over a vocabulary-sized frame; one
    localCheckpoint at the head keeps the upstream corpus scan out
    of the replay lineage (lazy: the truncation boundary is a plan
    property; materialization rides the first consuming job)."""
    state = words.localCheckpoint(eager=False)
    for r in rules:
        state = apply_merge(state, r["left"], r["right"])
    return state


def reference_encode(words: list[str],
                     rules: list[dict]) -> dict[str, tuple[str, ...]]:
    """Plain-Python reference encoder — the spec `encode_state` must
    reproduce exactly: chars + EOW, then each rule in order as one
    greedy left-to-right non-overlapping merge pass."""
    out: dict[str, tuple[str, ...]] = {}
    for w in words:
        syms: list[str] = list(w) + [EOW]
        for r in rules:
            left, right, cat = r["left"], r["right"], r["left"] + r["right"]
            nxt: list[str] = []
            for s in syms:
                if nxt and nxt[-1] == left and s == right:
                    nxt[-1] = cat
                else:
                    nxt.append(s)
            syms = nxt
        out[w] = tuple(syms)
    return out


def _source_word_counts(docs: DataFrame) -> DataFrame:
    """(source, word, n): the single corpus scan behind encode."""
    return (
        docs.select("source",
                    F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                    .alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("source", "word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: the learned rules are not
    SQL-expressible): train on the first BPE_TRAIN_DOCS documents,
    encode the WHOLE corpus, and report per-source tokenization
    stats — token counts, fertility (tokens per word), and
    compression (word chars per emitted token). The encode
    differential against `reference_encode` is driver-visible via
    `bpe_encode_floor` and unit-pinned on the real corpus.

    Optimization (r12, guide §1.2/§5): the training input here is a
    BOUNDED slice (BPE_TRAIN_DOCS is a constant — the slice does not
    grow with the corpus), so the trainer runs as `reference_merges`
    on the driver over one collected word-count frame — the same
    bounded-collect discipline as bpe_merge_floor — instead of 8
    distributed merge rounds (2 actions + a localCheckpoint each,
    ~32 Spark jobs of pure fixed overhead on vocabulary-sized data).
    `reference_merges ≡ learn_merges` is already driver-gated
    (bpe_merge_floor) and unit-pinned on real corpus word counts;
    tests/test_llm_ops.py additionally pins the equality on THIS
    query's exact training slice. The corpus-scale trainer
    (bpe_merge_rules) stays fully distributed. Measured at sf0.1:
    5.77 s → 3.2 s standing."""
    cat = Catalog(spark, sf_dir)
    train_wc = [(r["word"], r["n"])
                for r in word_symbol_state(
                    cat.documents.orderBy("doc_id").limit(BPE_TRAIN_DOCS))
                .select("word", "n").collect()]
    rules = reference_merges(train_wc, N_MERGES)
    counts = _source_word_counts(cat.documents)
    words = (counts.select("word").distinct()
             .withColumn(
                 "symbols",
                 F.concat(
                     F.filter(F.split(F.col("word"), ""),
                              lambda s: s != F.lit("")),
                     F.array(F.lit(EOW)))))
    encoded = (encode_state(words, rules)
               .select("word", F.size("symbols").alias("n_tokens_word")))
    return (
        counts.join(encoded, "word")
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("n_words"),
             F.sum(F.col("n") * F.col("n_tokens_word")).cast("long")
             .alias("n_tokens"),
             F.sum(F.col("n") * F.length("word")).cast("long")
             .alias("n_chars"))
        .select(
            "source", "n_words", "n_tokens", "n_chars",
            F.round(F.col("n_tokens") / F.col("n_words"), 6)
            .alias("tokens_per_word"),
            # raw compression: word chars per emitted token (EOW may
            # be merged into a carrier token, so no EOW adjustment is
            # well-defined)
            F.round(F.col("n_chars") / F.col("n_tokens"), 6)
            .alias("chars_per_token"))
        .orderBy("source")
    )


register("bpe_encode_stats", bpe_encode_stats, None)


def bpe_encode_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible encode gate (pinned-constant oracle, the
    bpe_merge_floor pattern): on a deterministic BPE_FLOOR_DOCS
    slice, train on the first BPE_TRAIN_DOCS and assert
    (a) the distributed replay's token sequence equals
        `reference_encode`'s for EVERY distinct word in the slice —
        including words outside the training slice (the OOV path);
    (b) round-trip: for every word, concat(tokens) == word + EOW —
        encode is a segmentation, never lossy (tokens may CONTAIN the
        EOW marker: rules like (s, </w>) are legitimately learned, so
        the check concatenates all tokens rather than assuming a bare
        trailing EOW);
    (c) at least one encoded word carries a merged (multi-char,
        non-EOW) token, so the gate cannot pass vacuously on an
        empty rule table.
    Slice and collected state are bounded at any corpus size."""
    docs = (Catalog(spark, sf_dir).documents
            .orderBy("doc_id").limit(BPE_FLOOR_DOCS))
    rules = learn_merges(docs.orderBy("doc_id").limit(BPE_TRAIN_DOCS))
    words = word_symbol_state(docs).select("word", "symbols")
    got = {r["word"]: tuple(r["symbols"])
           for r in encode_state(words, rules).collect()}
    ref = reference_encode(sorted(got), rules)
    matches = got == ref
    roundtrip = all("".join(s) == w + EOW for w, s in got.items())
    any_merged = any(len(t) > 1 and t != EOW
                     for s in got.values() for t in s)
    return spark.createDataFrame(
        [(len(got), matches, roundtrip, any_merged)],
        "n_words long, encode_matches_reference boolean,"
        " roundtrip_ok boolean, has_merged_token boolean")


BPE_ENCODE_FLOOR_SQL = """
SELECT CAST(n_words AS BIGINT) AS n_words,
       TRUE AS encode_matches_reference,
       TRUE AS roundtrip_ok,
       TRUE AS has_merged_token
FROM (
    SELECT COUNT(DISTINCT word) AS n_words FROM (
        SELECT UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
        FROM (SELECT text FROM documents ORDER BY doc_id LIMIT 200)
    ) WHERE LENGTH(word) > 0
)
"""

register("bpe_encode_floor", bpe_encode_floor, BPE_ENCODE_FLOOR_SQL)
