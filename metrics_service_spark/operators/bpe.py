"""BPE tokenizer TRAINING (Sennrich et al. 2016) and vocabulary
application.

The catalog has tokenization-by-fixed-rule (`bpe_token_count`,
operators/text.py:56); this module adds tokenizer INDUCTION — the
train-side operator every large-corpus pipeline runs before counting
tokens — and the apply / evaluate / encode / export steps over a
stored merge table.

Training is one Spark shuffle plus a driver-local finish:

- ONE corpus-sized shuffle (the word-frequency groupBy) collapses the
  corpus to the VOCABULARY table of unique filtered words, which is
  bounded by the language, not the corpus (Sennrich's reference
  implementation does exactly this collapse, on one machine).
- The vocabulary crosses to the driver under a loud row guard
  (`MAX_VOCAB_ROWS`, enforced on the transfer itself), and the merge
  loop runs there: incremental pair counts plus a lazy-invalidation
  heap, so only words containing the merged pair are re-scanned per
  round.  Total Spark jobs are O(1) at any merge count; a per-round
  Spark loop would pay one job launch per merge.
- The grouped (per-language) trainer is the same finish per group
  over one grouped word-frequency shuffle.

Applying a stored table is pure Spark: the merges replay over the
distinct-word vocabulary as chained codegen projections
(`replay_merges`) and the per-word units join back to the token
stream.

Determinism: counts are exact integers; the argmax tie-breaks
(pair_count DESC, left, right); the greedy scan merges non-overlapping
occurrences left to right (so 'aaaa' + (a,a) -> [aa, aa]) — all of
which `sql_bpe_ctes` mirrors relationally (runs of overlapping
matches resolved by position parity) so a DuckDB oracle replays the
whole training run bit-for-bit.

Reference scope note: the reference engine has no tokenizer surface;
this is part of the training-data-pipeline layer built on top of the
shared corpus tables (SURVEY.md §2's LLM extension family).
"""

from __future__ import annotations

import heapq
import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metrics_service_spark.operators.driver import _bounded_arrow

#: bounds the per-word symbol array (and with it the scan-expression
#: cost) — words longer than this are ignored for training and count
#: as one unit on apply, like any non-alphabetic token
MAX_WORD_LEN = 20
WORD_RE = "^[a-z]+$"


def word_frequencies(
    docs: DataFrame, text_col: str = "text", *, max_word_len: int = MAX_WORD_LEN
) -> DataFrame:
    """(w, freq) over lowercased whitespace tokens restricted to
    bounded all-alphabetic words — the one corpus-sized aggregation
    of the whole training run.  `_spread` parallelizes the explode
    off a one-row-group local source (no-op on a well-partitioned
    real input)."""
    from metrics_service_spark.operators.similarity import _spread

    return (
        _spread(docs.select(F.col(text_col)))
        .select(
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
        )
        .filter(F.col("w").rlike(WORD_RE) & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def merge_pair_scan(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right non-overlapping merge of (left, right) in a
    symbol array — one F.aggregate scan, no shuffle.  The nullable
    `prev` slot holds the one-symbol lookbehind; a merge consumes it so
    the freshly-merged token cannot chain within the same round
    (classic BPE round semantics).  `replay_merges` runs this fold for
    symbols the flat-string form cannot carry."""
    zero = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc: Column, s: Column) -> Column:
        take = acc.prev.isNotNull() & (acc.prev == left) & (s == right)
        flushed = F.when(
            acc.prev.isNotNull(), F.concat(acc.out, F.array(acc.prev))
        ).otherwise(acc.out)
        return F.when(
            take,
            F.struct(
                F.concat(acc.out, F.array(F.lit(left + right))).alias("out"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), s.alias("prev")))

    def fin(acc: Column) -> Column:
        return F.when(
            acc.prev.isNotNull(), F.concat(acc.out, F.array(acc.prev))
        ).otherwise(acc.out)

    return F.aggregate(syms, zero, step, fin)


#: symbols safe for the flat-string merge scan: regex-literal (no
#: metacharacters, no replacement-string escapes) and free of the
#: space separator the flat encoding uses.  Training symbols are
#: always in this class (WORD_RE words split to chars, concatenated).
_SAFE_SYM_RE = _re.compile(r"[a-z]+\Z")


def _syms_to_flat(syms: Column) -> Column:
    """Symbol array -> space-flanked flat string (' a b c ')."""
    return F.concat(F.lit(" "), F.concat_ws(" ", syms), F.lit(" "))


def _flat_to_syms(s: Column) -> Column:
    """Inverse of `_syms_to_flat`."""
    return F.split(F.trim(s), " ")


def _flat_merge_replace(s: Column, left: str, right: str) -> Column:
    """One greedy merge round on the flat-string form, as a single
    codegen `regexp_replace`: the pattern ' left right(?= )' consumes
    each symbol's LEADING separator only (the trailing boundary is a
    non-consuming lookahead), so Java's left-to-right non-overlapping
    replacement is exactly `merge_pair_scan`'s fold — adjacent
    matches chain ('a b a b' -> 'ab ab') while a freshly merged token
    never re-merges in-round (replacement text is never re-scanned).
    Only valid for `_SAFE_SYM_RE` symbols (guaranteed space-free and
    regex-literal); callers gate on that and fall back to the fold."""
    return F.regexp_replace(s, f" {left} {right}(?= )", f" {left}{right}")


# --- driver-local training finish (production merge counts) ----------------
def _py_greedy_merge(syms: list[str], left: str, right: str) -> list[str]:
    """Driver-local mirror of `merge_pair_scan`: left-to-right
    non-overlapping; the freshly-merged token never chains in-round."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _adjacent_pairs(syms: list[str]) -> list[tuple[str, str]]:
    return list(zip(syms, syms[1:]))


#: vocab-collect guard for the driver-local finish — natural-language
#: unique-filtered-word counts sit around 10^6; anything past this is
#: not a vocabulary table and must fail loudly, not swap the driver
MAX_VOCAB_ROWS = 2_000_000


def bpe_train_local_finish(
    docs: DataFrame,
    text_col: str = "text",
    *,
    n_merges: int = 6,
    max_word_len: int = MAX_WORD_LEN,
    max_vocab_rows: int = MAX_VOCAB_ROWS,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """The learned merge table (rank, left_sym, right_sym, pair_count),
    one row per merge in training order: the corpus axis runs on Spark
    and the merge loop on the driver.

    The scale observation (the one Sennrich's reference trainer rests
    on): after the ONE corpus-sized aggregation — `word_frequencies`,
    the only stage that ever touches the corpus — the vocabulary of
    unique filtered words is bounded by the LANGUAGE (~10^6 rows), not
    the corpus.  So: run that one Spark shuffle, collect the vocab
    under a loud row guard, and finish training driver-local with
    incremental pair counts + a lazy-invalidation heap (only words
    containing the merged pair are re-scanned per round, the classic
    trainer's data structure) — total Spark jobs O(1) regardless of
    n_merges, where a per-round Spark loop pays one job launch per
    merge (hours at 32k-100k production merge counts).

    The argmax tie-break is (pair_count DESC, left, right) over
    lowercase ASCII symbols, so Python tuple order == the oracle's
    byte order; the scan is greedy and non-overlapping; a corpus that
    runs out of mergeable pairs before n_merges raises loudly rather
    than return a short table.  `sql_bpe_merge_table` replays the run
    bit-for-bit."""
    # Bound the TRANSFER, not just the result: `_bounded_arrow`'s
    # limit of max_vocab_rows + 1 truncates what crosses to the
    # driver, so on the pathological input this guard exists for (a
    # non-language-bounded unique-word table, e.g. IDs/hashes in text)
    # the loud error fires before the driver can swap — while below
    # the bound the limit is a no-op and completeness is untouched.
    # `word_freqs` lets a caller that ALSO tokenizes the same corpus
    # downstream (export/apply/encode) hand in one shared — typically
    # lazily checkpointed — (w, freq) frame instead of paying a second
    # corpus tokenize pass (r17, guide §2.4).
    wf = (
        word_frequencies(docs, text_col, max_word_len=max_word_len)
        if word_freqs is None
        else word_freqs
    )
    tbl = _bounded_arrow(wf, max_vocab_rows)
    if tbl is None:
        raise ValueError(
            f"bpe_train_local_finish: vocabulary exceeds "
            f"max_vocab_rows={max_vocab_rows}; this input's unique-"
            f"word table is not language-bounded — filter the input or "
            f"raise max_vocab_rows explicitly"
        )
    freqs = dict(zip(tbl["w"].to_pylist(), tbl["freq"].to_pylist()))
    merges = _heap_train_from_freqs(freqs, n_merges=n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "rank int, left_sym string, right_sym string, pair_count bigint"
    )


def _heap_train_from_freqs(
    freqs: dict[str, int], *, n_merges: int, label: str | None = None
) -> list[tuple[int, str, str, int]]:
    """The classic driver-local trainer over a (word -> freq) dict:
    incremental pair counts + a lazy-invalidation heap (stale entries
    discarded on pop; only words containing the merged pair are
    re-scanned per round).  Shared by `bpe_train_local_finish` and the
    per-group loop in `bpe_train_grouped_local_finish`.  Returns
    [(rank, left, right, pair_count)]."""
    ctx = f" [group {label!r}]" if label is not None else ""
    vocab = {w: list(w) for w in freqs}

    # pair -> exact count, pair -> words currently containing it
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[str]] = {}
    for w, syms in vocab.items():
        for p in _adjacent_pairs(syms):
            counts[p] = counts.get(p, 0) + freqs[w]
            where.setdefault(p, set()).add(w)
    # lazy heap: stale entries (count changed since push) are discarded
    # on pop; ordering (-count, left, right) == the argmax tie-break
    heap = [(-c, p[0], p[1]) for p, c in counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best: tuple[str, str] | None = None
        while heap:
            negc, l, r = heap[0]
            if counts.get((l, r), 0) == -negc:
                best = (l, r)
                break
            heapq.heappop(heap)  # stale
        if best is None:
            raise ValueError(
                f"bpe training: no mergeable pairs left after {rank} "
                f"merges (requested {n_merges}){ctx}; corpus too small "
                f"for this vocab"
            )
        l, r = best
        # Bit-identity with the relational oracle relies on Python
        # tuple order == its byte order for the (left, right) tie-break,
        # which holds for ASCII symbols only (ADVICE r15: WORD_RE is
        # '^[a-z]+$' today; enforce the assumption so widening it to
        # unicode letters fails loudly instead of silently diverging
        # on ties).
        if not (l + r).isascii():
            raise ValueError(
                f"bpe heap trainer: non-ASCII merge pair "
                f"({l!r}, {r!r}){ctx} — the heap's (pair_count DESC, "
                f"left, right) tie-break matches the oracle's UTF8 byte "
                f"order only for ASCII symbols"
            )
        merges.append((rank, l, r, counts[(l, r)]))
        touched: set[tuple[str, str]] = set()
        for w in sorted(where.get((l, r), ())):
            old = vocab[w]
            new = _py_greedy_merge(old, l, r)
            vocab[w] = new
            old_pairs = _adjacent_pairs(old)
            new_pairs = _adjacent_pairs(new)
            for p in old_pairs:
                counts[p] -= freqs[w]
                touched.add(p)
            for p in new_pairs:
                counts[p] = counts.get(p, 0) + freqs[w]
                touched.add(p)
            new_set = set(new_pairs)
            for p in set(old_pairs) - new_set:
                where[p].discard(w)
            for p in new_set:
                where.setdefault(p, set()).add(w)
        for p in touched:
            if counts.get(p, 0) <= 0:
                counts.pop(p, None)
            else:
                heapq.heappush(heap, (-counts[p], p[0], p[1]))
    return merges


# --- apply a stored merge table ---------------------------------------------
def _collect_merges(merge_table: DataFrame) -> list[tuple[str, str]]:
    """Collect a persisted merge table in rank order, validating it is
    exactly ranks 0..n-1 with no duplicates or gaps (ADVICE r15: a
    corrupted / partially-written table with duplicate ranks would
    otherwise replay in nondeterministic tie order, silently breaking
    the bit-identical-replay contract — fail loudly instead, matching
    the module's other production paths)."""
    rows = merge_table.orderBy("rank").collect()
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(len(rows))):
        raise ValueError(
            f"merge table is corrupt: ranks must be exactly "
            f"0..{len(rows) - 1} distinct, got {ranks[:20]}"
            + ("..." if len(ranks) > 20 else "")
        )
    _validate_merge_symbols(
        ((r["rank"], r["left_sym"], r["right_sym"]) for r in rows), "merge table"
    )
    return [(r["left_sym"], r["right_sym"]) for r in rows]


def _validate_merge_symbols(rows, label: str) -> None:
    """Fail loudly on NULL/empty merge symbols (ADVICE r16): a NULL or
    empty left/right never matches in the replay scan, so that rank
    would be silently SKIPPED — the exact silent-corruption class the
    rank-contiguity check was added to kill.  Every path into
    `replay_merges` (stored tables and caller-supplied lists) runs
    this check."""
    bad = [
        (rank, l, r)
        for rank, l, r in rows
        if l is None or r is None or l == "" or r == ""
    ]
    if bad:
        raise ValueError(
            f"{label} is corrupt: NULL/empty merge symbols at "
            f"(rank, left, right) {bad[:20]}"
            + ("..." if len(bad) > 20 else "")
        )


def _resolve_merges(
    merges: list[tuple[str, str]] | None,
    merge_table: DataFrame | None,
    fn: str,
) -> list[tuple[str, str]]:
    """The merge list an apply runs: a caller-supplied list, validated
    like a stored table's symbols, or the stored table collected."""
    if merges is not None:
        _validate_merge_symbols(
            ((i, l, r) for i, (l, r) in enumerate(merges)), "merges list"
        )
        return list(merges)
    if merge_table is None:
        raise ValueError(f"{fn}: pass merge_table or merges")
    return _collect_merges(merge_table)


def replay_merges(
    vocab: DataFrame,
    merges: list[tuple[str, str]],
    *,
    syms_col: str = "syms",
    checkpoint_every: int = 32,
) -> DataFrame:
    """Replay a learned merge list over a symbol-array frame: one
    pure-projection greedy scan per merge, applied in rank order
    (exactly the trainer's per-round vocabulary evolution, so the
    segmentation is bit-identical to training's final state).  No
    Spark job per merge — Catalyst collapses the chained projections;
    a lazy localCheckpoint every `checkpoint_every` merges bounds
    expression-tree depth (Catalyst analysis cost grows superlinearly
    with nesting), and each such checkpoint materializes the
    VOCAB-sized frame, never the corpus.  The cadence is a measured
    trade: at 48 merges over sf0.1 the apply wall was 8.6/6.1/5.4/4.8 s
    at checkpoint_every 4/8/16/48 — checkpoint job launches dominate
    long before expression depth does, hence the high default.

    r17 optimization (guide §4.1 — prefer codegen built-ins over
    interpreted expression trees): when every merge symbol is
    scan-safe (`_SAFE_SYM_RE` — always true for tables trained on
    WORD_RE words) the whole chain runs on the FLAT-STRING form — one
    `_syms_to_flat` up front, one codegen `regexp_replace` per merge,
    one split back at the end — instead of one interpreted
    `F.aggregate` array fold per merge (HOFs get no whole-stage
    codegen).  Measured 11x on the sf0.001 vocab at 48 merges
    (7.2 -> 0.6 s); bit-identical by the fuzz + adversarial-word
    equivalence suite.  Unsafe symbol sets take the original fold
    chain unchanged."""
    if not merges:
        return vocab
    if not all(
        _SAFE_SYM_RE.match(l) and _SAFE_SYM_RE.match(r) for l, r in merges
    ):
        out = vocab
        for i, (left, right) in enumerate(merges, start=1):
            out = out.withColumn(
                syms_col, merge_pair_scan(F.col(syms_col), left, right)
            )
            if i % checkpoint_every == 0 and i < len(merges):
                out = out.localCheckpoint(eager=False)
        return out
    out = vocab.withColumn(syms_col, _syms_to_flat(F.col(syms_col)))
    for i, (left, right) in enumerate(merges, start=1):
        out = out.withColumn(
            syms_col, _flat_merge_replace(F.col(syms_col), left, right)
        )
        if i % checkpoint_every == 0 and i < len(merges):
            out = out.localCheckpoint(eager=False)
    return out.withColumn(syms_col, _flat_to_syms(F.col(syms_col)))


def _count_with_units(
    docs: DataFrame, units: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Shared apply tail: per-doc whitespace token count + BPE unit
    count via the vocabulary join; out-of-vocabulary tokens
    (non-alphabetic, over-long) count as one unit each."""
    from metrics_service_spark.operators.similarity import _spread

    toks = (
        _spread(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        toks.join(units, "w", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ws_tokens"),
            F.sum(F.coalesce("__units", F.lit(1)))
            .cast("long")
            .alias("n_bpe_units"),
        )
    )


def bpe_apply(
    docs: DataFrame,
    merge_table: DataFrame | None = None,
    *,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    checkpoint_every: int = 32,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Apply a PERSISTED merge table — NO training jobs (VERDICT r14
    #1: a real pipeline trains once and applies the stored table
    across the corpus many times; until this function the only apply
    path refused the stored table and retrained).

    Plan shape: collect the merge table in rank order (n_merges rows —
    KBs even at 100k merges, the same bounded-driver-transfer class as
    the Lloyd-loop centroids), build the DISTINCT trainable-word
    vocabulary of `docs` (one vocab-sized shuffle), replay the merges
    as chained pure projections (`replay_merges`), and join the
    resulting per-word unit counts back to the token stream.  On the
    training corpus this reproduces training's final segmentation (the
    distinct word set IS the training vocab's word set); on new
    corpora it segments unseen words by the same rank-order replay."""
    merges = _resolve_merges(merges, merge_table, "bpe_apply")
    from metrics_service_spark.operators.similarity import _spread

    # `word_freqs` (a shared — typically checkpointed — (w, freq)
    # frame over the SAME corpus) carries exactly the distinct
    # trainable-word set, so reusing it skips this pass's tokenize +
    # distinct exchange (r17, guide §2.4)
    if word_freqs is None:
        words = (
            _spread(docs.select(F.col(text_col)))
            .select(
                F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
            )
            .filter(
                F.col("w").rlike(WORD_RE) & (F.length("w") <= max_word_len)
            )
            .distinct()
            .select("w", F.split("w", "").alias("syms"))
        )
    else:
        words = word_freqs.select("w", F.split("w", "").alias("syms"))
    seg = replay_merges(words, merges, checkpoint_every=checkpoint_every)
    units = seg.select("w", F.size("syms").alias("__units"))
    return _count_with_units(docs, units, id_col, text_col)


# --- DuckDB oracle mirror --------------------------------------------------
def sql_bpe_ctes(
    n_merges: int,
    *,
    max_word_len: int = MAX_WORD_LEN,
    docs_table: str = "documents",
    text_col: str = "text",
    materialize: bool = False,
) -> tuple[str, str]:
    """CTE body replaying the full training run relationally; returns
    (cte_sql, final_vocab_cte_name).  Greedy non-overlap is resolved
    by run parity: within each maximal run of consecutive pair
    matches (only same-symbol pairs can overlap), occurrences at even
    offset from the run head are taken — exactly the left-to-right
    scan.  Merge CTEs are b0..b{k-1}, vocab states r0..r{k}.

    `materialize` pins every vocab state r{n} with AS MATERIALIZED:
    each r{n} is referenced TWICE (by p{n} and m{n}), and DuckDB
    inlines non-materialized CTEs per reference, so an un-pinned
    chain re-evaluates the whole prefix ~2^n times — fine at the
    6-round oracle geometry, fd-exhaustion/blow-up at 48 rounds.
    Required for any deep-replay oracle (n_merges > ~10)."""
    mat = " MATERIALIZED" if materialize else ""
    ctes = [
        f"""words AS{mat} (
  SELECT w, count(*) AS freq FROM (
    SELECT t.w FROM {docs_table}, UNNEST(string_split_regex(lower({text_col}), '\\s+')) t(w)
  ) WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= {max_word_len}
  GROUP BY w
)""",
        f"""r0 AS{mat} (
  SELECT w, freq,
         list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
  FROM words
)""",
    ]
    for n in range(n_merges):
        ctes.append(
            f"""p{n} AS (
  SELECT pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM r{n}, UNNEST(list_transform(generate_series(1, len(syms) - 1),
        i -> struct_pack(l := syms[i], r := syms[i + 1]))) t(pr)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
)""",
        )
        ctes.append(
            f"b{n} AS (SELECT l, r, pair_count FROM p{n} "
            f"ORDER BY pair_count DESC, l, r LIMIT 1)"
        )
        ctes.append(
            f"""m{n} AS (
  SELECT w, freq, i, sym, br,
         is_m AND (i - min(CASE WHEN is_m THEN i END) OVER
             (PARTITION BY w, grp)) % 2 = 0 AS taken
  FROM (
    SELECT *, count(*) FILTER (NOT is_m) OVER
             (PARTITION BY w ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT d.w, d.freq, t.i, d.syms[t.i] AS sym, b.r AS br,
             (t.i < len(d.syms) AND d.syms[t.i] = b.l
              AND d.syms[t.i + 1] = b.r) AS is_m
      FROM r{n} d CROSS JOIN b{n} b,
           UNNEST(generate_series(1, len(d.syms))) t(i)
    )
  )
)""",
        )
        ctes.append(
            f"""r{n + 1} AS{mat} (
  SELECT w, any_value(freq) AS freq,
         list(CASE WHEN taken THEN sym || br ELSE sym END ORDER BY i) AS syms
  FROM (SELECT *, lag(taken) OVER (PARTITION BY w ORDER BY i) AS prev_taken
        FROM m{n})
  WHERE NOT coalesce(prev_taken, FALSE)
  GROUP BY w
)""",
        )
    return ",\n".join(ctes), f"r{n_merges}"


def sql_bpe_merge_table(n_merges: int, **kw) -> str:
    ctes, _ = sql_bpe_ctes(n_merges, **kw)
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({n} AS INT) AS rank, l AS left_sym, r AS right_sym, "
        f"pair_count FROM b{n}"
        for n in range(n_merges)
    )
    return f"WITH {ctes}\n{unions}"


def bpe_vocab_export(
    docs: DataFrame,
    merge_table: DataFrame,
    *,
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Export the unit vocabulary a trained tokenizer ships to its
    runtime (the vocab.json next to the merges file): every base
    character observed in the trainable word set (first_rank -1) plus
    each merge's output symbol (left||right at its introducing rank).
    Duplicate outputs keep the EARLIEST rank — two merges can emit the
    same string (e.g. (a,bc) after (ab,c) both yield "abc") and a
    runtime wants distinct units.  ``unit_id`` is the deterministic
    dense numbering by (first_rank, unit), so ids are stable across
    engines and re-exports.

    Scale: base chars come from the one corpus tokenize pass collapsed
    map-side to the <=|charset| distinct set; the merge side is the
    merge-table frame itself — the union is vocab-bounded (chars +
    n_merges rows) and the id window runs on that tiny frame (the
    |langs|-row singleton-window class, never corpus mass)."""
    from pyspark.sql import Window

    wf = (
        word_frequencies(docs, text_col, max_word_len=max_word_len)
        if word_freqs is None
        else word_freqs
    )
    chars = (
        wf.select(F.explode(F.split("w", "")).alias("unit"))
        .distinct()
        .select("unit", F.lit(-1).cast("int").alias("first_rank"))
    )
    merged = merge_table.select(
        F.concat("left_sym", "right_sym").alias("unit"),
        F.col("rank").cast("int").alias("first_rank"),
    )
    units = (
        chars.unionByName(merged)
        .groupBy("unit")
        .agg(F.min("first_rank").cast("int").alias("first_rank"))
    )
    w = Window.orderBy("first_rank", "unit")
    return units.select(
        "unit",
        "first_rank",
        (F.row_number().over(w) - 1).cast("long").alias("unit_id"),
    )


def sql_bpe_vocab_export(n_merges: int, **kw) -> str:
    """DuckDB replay of `bpe_vocab_export`: base chars from the r0
    segmentation, merge outputs from each round's b{n} winner, dedup
    to the earliest rank, dense (first_rank, unit) numbering."""
    ctes, _ = sql_bpe_ctes(n_merges, **kw)
    merge_units = "\n  UNION ALL\n".join(
        f"  SELECT l || r AS unit, {n} AS first_rank FROM b{n}"
        for n in range(n_merges)
    )
    return f"""WITH {ctes},
all_units AS (
  SELECT DISTINCT unnest(syms) AS unit, -1 AS first_rank FROM r0
  UNION ALL
{merge_units}
),
dedup AS (
  SELECT unit, CAST(min(first_rank) AS INT) AS first_rank
  FROM all_units GROUP BY 1
)
SELECT unit, first_rank,
       CAST(row_number() OVER (ORDER BY first_rank, unit) - 1 AS BIGINT)
           AS unit_id
FROM dedup"""


def bpe_vocab_export_grouped(
    docs: DataFrame,
    merge_table: DataFrame,
    *,
    group_col: str = "lang",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Per-language `bpe_vocab_export`: each language in the GROUPED
    merge table exports its own unit vocabulary (its corpus subset's
    base chars at first_rank -1 + its merge outputs), with unit ids
    dense PER LANGUAGE — the artifact set a multilingual runtime loads
    one-per-language next to the grouped merges file.  Languages with
    no merge table rows are excluded (no tokenizer, no export); their
    filter is a broadcast semi-join on the sum-of-budgets-row table,
    never a collect.

    Scale: one grouped tokenize pass collapses map-side to the
    |langs| x |charset| distinct char set; the union is vocab-bounded
    and the id window partitions by language over that tiny frame."""
    from pyspark.sql import Window

    groups = merge_table.select(group_col).distinct()
    gwf = (
        _grouped_word_frequencies(
            docs, text_col, group_col, max_word_len=max_word_len
        )
        if word_freqs is None
        else word_freqs
    )
    chars = (
        gwf.join(F.broadcast(groups), group_col, "semi")
        .select(group_col, F.explode(F.split("w", "")).alias("unit"))
        .distinct()
        .select(group_col, "unit", F.lit(-1).cast("int").alias("first_rank"))
    )
    merged = merge_table.select(
        group_col,
        F.concat("left_sym", "right_sym").alias("unit"),
        F.col("rank").cast("int").alias("first_rank"),
    )
    units = (
        chars.unionByName(merged)
        .groupBy(group_col, "unit")
        .agg(F.min("first_rank").cast("int").alias("first_rank"))
    )
    w = Window.partitionBy(group_col).orderBy("first_rank", "unit")
    return units.select(
        group_col,
        "unit",
        "first_rank",
        (F.row_number().over(w) - 1).cast("long").alias("unit_id"),
    )


def sql_bpe_vocab_export_grouped(
    budgets: dict[str, int], *, group_col: str = "lang", **kw
) -> str:
    """DuckDB replay of `bpe_vocab_export_grouped`: per-language base
    chars from the grouped r0 states (restricted to the budgeted
    languages — the ones with merge rows), merge outputs from each
    round's per-group b{n} winners, earliest-rank dedup, per-language
    dense numbering.  Budgets must all be positive: a zero-budget
    group has no merge rows, so the Spark side excludes it entirely
    while this CTE body would still export its chars."""
    if any(b <= 0 for b in budgets.values()):
        raise ValueError(
            "sql_bpe_vocab_export_grouped: all budgets must be > 0"
        )
    ctes, _ = sql_bpe_grouped_ctes(budgets, group_col=group_col, **kw)
    n_rounds = max(budgets.values())
    merge_units = "\n  UNION ALL\n".join(
        f"  SELECT {group_col}, l || r AS unit, {n} AS first_rank FROM b{n}"
        for n in range(n_rounds)
    )
    groups_in = ", ".join(f"'{g}'" for g in sorted(budgets))
    return f"""WITH {ctes},
all_units AS (
  SELECT DISTINCT {group_col}, unnest(syms) AS unit, -1 AS first_rank
  FROM r0 WHERE {group_col} IN ({groups_in})
  UNION ALL
{merge_units}
),
dedup AS (
  SELECT {group_col}, unit, CAST(min(first_rank) AS INT) AS first_rank
  FROM all_units GROUP BY 1, 2
)
SELECT {group_col}, unit, first_rank,
       CAST(row_number() OVER (PARTITION BY {group_col}
                ORDER BY first_rank, unit) - 1 AS BIGINT) AS unit_id
FROM dedup"""


def bpe_encode_digest(
    docs: DataFrame,
    merge_table: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    checkpoint_every: int = 32,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Tokenize each document to its ordered unit-ID SEQUENCE — the
    actual model-input encoding (`bpe_apply` proves unit COUNTS; a
    training pipeline emits id sequences) — returned hash-compact as
    (id, n_units, ids_digest) where ids_digest = md5 of the
    comma-joined ids in document order, so the full sequence is
    value-verified without shipping token arrays through the
    comparator.  Unit ids are `bpe_vocab_export`'s deterministic dense
    numbering; out-of-vocabulary tokens (non-alphabetic, over-long)
    encode as the single id -1 (the <unk> convention).

    Plan shape: the distinct-word vocabulary replays once
    (`replay_merges`, vocab-sized), its units explode to (word,
    sympos, unit) rows and join the export's id table — BOTH sides
    vocab-bounded; the corpus token stream (doc, pos, word) joins the
    per-word id arrays and one doc-keyed aggregation reassembles the
    sequence by (pos, sympos).  The only corpus-mass exchange is that
    final doc-keyed shuffle of unit ids — the same grain `bpe_apply`
    shuffles, carried as ints."""
    from metrics_service_spark.operators.similarity import _spread

    merges = _collect_merges(merge_table)
    # one shared (w, freq) pass feeds BOTH the export's base-char set
    # and the replay vocabulary — the old shape tokenized the corpus
    # twice for the identical distinct-word set (r17, guide §2.4);
    # callers that trained on the same corpus pass their frame in and
    # drop a third pass
    wf = (
        word_frequencies(
            docs, text_col, max_word_len=max_word_len
        ).localCheckpoint(eager=False)
        if word_freqs is None
        else word_freqs
    )
    ids = bpe_vocab_export(
        docs,
        merge_table,
        text_col=text_col,
        max_word_len=max_word_len,
        word_freqs=wf,
    ).select("unit", "unit_id")
    words = wf.select("w", F.split("w", "").alias("syms"))
    segmented = replay_merges(
        words, merges, checkpoint_every=checkpoint_every
    )
    word_ids = (
        segmented.select("w", F.posexplode("syms").alias("sympos", "unit"))
        .join(ids, "unit")
        .groupBy("w")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("sympos", "unit_id"))
                ),
                lambda x: x.unit_id,
            ).alias("__ids")
        )
    )
    toks = (
        _spread(docs.select(F.col(id_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    per_tok = toks.join(word_ids, "w", "left").select(
        id_col,
        "pos",
        F.coalesce(
            F.col("__ids"), F.array(F.lit(-1).cast("long"))
        ).alias("__ids"),
    )
    seq = (
        per_tok.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "__ids"))),
                    lambda x: x["__ids"],
                )
            ).alias("__seq")
        )
    )
    return seq.select(
        id_col,
        F.size("__seq").cast("long").alias("n_units"),
        F.md5(
            F.concat_ws(",", F.transform("__seq", lambda i: i.cast("string")))
        ).alias("ids_digest"),
    )


def sql_bpe_encode_digest(
    n_merges: int,
    *,
    id_col: str = "doc_id",
    docs_table: str = "documents",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    **kw,
) -> str:
    """DuckDB replay of `bpe_encode_digest`: the training CTEs' final
    vocab state gives each word's ordered units; units join the
    export-id table; the per-document digest string_aggs ids ordered
    by (token position, unit position), OOV tokens contributing the
    single id -1."""
    ctes, final = sql_bpe_ctes(
        n_merges,
        max_word_len=max_word_len,
        docs_table=docs_table,
        text_col=text_col,
        **kw,
    )
    merge_units = "\n  UNION ALL\n".join(
        f"  SELECT l || r AS unit, {n} AS first_rank FROM b{n}"
        for n in range(n_merges)
    )
    return f"""WITH {ctes},
all_units AS (
  SELECT DISTINCT unnest(syms) AS unit, -1 AS first_rank FROM r0
  UNION ALL
{merge_units}
),
export AS (
  SELECT unit,
         CAST(row_number() OVER (ORDER BY first_rank, unit) - 1 AS BIGINT)
             AS unit_id
  FROM (SELECT unit, min(first_rank) AS first_rank FROM all_units GROUP BY 1)
),
word_ids AS (
  SELECT w, list(unit_id ORDER BY j) AS ids FROM (
    SELECT v.w, t.j, e.unit_id
    FROM {final} v,
         UNNEST(generate_series(1, len(v.syms))) t(j),
         export e
    WHERE v.syms[t.j] = e.unit
  ) GROUP BY w
),
toks AS (
  SELECT {id_col}, t.i AS pos, d.ws[t.i] AS w
  FROM (SELECT {id_col},
               string_split_regex(lower({text_col}), '\\s+') AS ws
        FROM {docs_table}) d,
       UNNEST(generate_series(1, len(d.ws))) t(i)
  WHERE d.ws[t.i] <> ''
),
per_tok AS (
  SELECT toks.{id_col}, toks.pos,
         coalesce(word_ids.ids, [CAST(-1 AS BIGINT)]) AS ids
  FROM toks LEFT JOIN word_ids ON toks.w = word_ids.w
),
flat AS (
  SELECT {id_col}, pos, u.j AS sympos, ids[u.j] AS unit_id
  FROM per_tok, UNNEST(generate_series(1, len(ids))) u(j)
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_units,
       md5(string_agg(CAST(unit_id AS VARCHAR), ',' ORDER BY pos, sympos))
           AS ids_digest
FROM flat
GROUP BY 1"""


def sql_bpe_apply_counts(
    n_merges: int,
    *,
    id_col: str = "doc_id",
    docs_table: str = "documents",
    text_col: str = "text",
    **kw,
) -> str:
    ctes, final = sql_bpe_ctes(
        n_merges, docs_table=docs_table, text_col=text_col, **kw
    )
    return f"""WITH {ctes}
SELECT d.{id_col},
       CAST(count(*) AS BIGINT) AS n_ws_tokens,
       CAST(sum(coalesce(len(v.syms), 1)) AS BIGINT) AS n_bpe_units
FROM (SELECT {id_col}, t.w
      FROM {docs_table}, UNNEST(string_split_regex(lower({text_col}), '\\s+')) t(w)
      WHERE t.w <> '') d
LEFT JOIN {final} v ON d.w = v.w
GROUP BY 1"""


def bpe_apply_stats(
    docs: DataFrame,
    merge_table: DataFrame | None = None,
    *,
    merges: list[tuple[str, str]] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols: list[str] | None = None,
    max_word_len: int = MAX_WORD_LEN,
    checkpoint_every: int = 32,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Tokenizer EVALUATION over a stored merge table: per group
    (e.g. language), document count, whitespace-token count, BPE unit
    count, out-of-vocabulary token count, and FERTILITY (units per
    whitespace token) in exact basis points — the standard metric a
    team inspects after training a tokenizer, and the slice report
    that decides whether a vocab needs per-language rebalancing.

    Same plan skeleton as `bpe_apply` (replayed vocab + one token join
    + one aggregation — corpus tokens touched once, zero training
    jobs); the output is group-bounded (|langs| rows), so the result
    never carries corpus mass.  All arithmetic is integer floor-div,
    bit-reproducible against the relational oracle."""
    merges = _resolve_merges(merges, merge_table, "bpe_apply_stats")
    from metrics_service_spark.operators.similarity import _spread

    group_cols = list(group_cols or [])
    # same shared-pass contract as `bpe_apply`: a caller-supplied
    # (w, freq) frame over the SAME corpus replaces the tokenize +
    # distinct exchange (r17, guide §2.4)
    if word_freqs is None:
        words = (
            _spread(docs.select(F.col(text_col)))
            .select(
                F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w")
            )
            .filter(
                F.col("w").rlike(WORD_RE) & (F.length("w") <= max_word_len)
            )
            .distinct()
            .select("w", F.split("w", "").alias("syms"))
        )
    else:
        words = word_freqs.select("w", F.split("w", "").alias("syms"))
    seg = replay_merges(words, merges, checkpoint_every=checkpoint_every)
    units = seg.select("w", F.size("syms").alias("__units"))
    toks = (
        _spread(docs.select(F.col(id_col), *group_cols, F.col(text_col)))
        .select(
            F.col(id_col),
            *group_cols,
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    agg = (
        toks.join(units, "w", "left")
        .groupBy(*group_cols)
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum(F.coalesce("__units", F.lit(1)))
            .cast("long")
            .alias("bpe_units"),
            F.count(F.when(F.col("__units").isNull(), 1))
            .cast("long")
            .alias("oov_tokens"),
        )
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "ws_tokens",
        "bpe_units",
        "oov_tokens",
        F.expr("(10000 * bpe_units) div ws_tokens").alias("fertility_bp"),
    )


def sql_bpe_apply_stats(
    n_merges: int,
    *,
    id_col: str = "doc_id",
    docs_table: str = "documents",
    text_col: str = "text",
    group_cols: list[str] | None = None,
    **kw,
) -> str:
    ctes, final = sql_bpe_ctes(
        n_merges, docs_table=docs_table, text_col=text_col, **kw
    )
    gcols = ", ".join(group_cols or [])
    gsel = f"{gcols}, " if gcols else ""
    return f"""WITH {ctes}
SELECT {gsel}
       CAST(count(DISTINCT d.{id_col}) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS ws_tokens,
       CAST(sum(coalesce(len(v.syms), 1)) AS BIGINT) AS bpe_units,
       CAST(count(*) FILTER (v.w IS NULL) AS BIGINT) AS oov_tokens,
       CAST(CAST(10000 * CAST(sum(coalesce(len(v.syms), 1)) AS BIGINT) AS BIGINT)
            // CAST(count(*) AS BIGINT) AS BIGINT) AS fertility_bp
FROM (SELECT {id_col}, {gsel}t.w
      FROM {docs_table}, UNNEST(string_split_regex(lower({text_col}), '\\s+')) t(w)
      WHERE t.w <> '') d
LEFT JOIN {final} v ON d.w = v.w
{f"GROUP BY {gcols}" if gcols else ""}"""


# --- per-language vocab-budget rebalancing ----------------------------------
def vocab_budget_rebalance(
    stats: DataFrame,
    group_col: str = "lang",
    *,
    total_budget: int,
    min_per_group: int = 0,
) -> DataFrame:
    """The fertility report's CONSUMER (VERDICT r15 #3): turn
    `bpe_apply_stats` output into per-language merge budgets — the
    UniMax-style decision step a multilingual tokenizer pipeline runs
    between evaluation rounds (allocate the next vocabulary's merge
    slots toward the languages the current tokenizer serves worst).

    Weighting: a language's claim on the budget is its EXCESS UNIT
    MASS `max(bpe_units - ws_tokens, 0)` — the number of extra units
    the current segmentation spends beyond one-unit-per-token, i.e.
    exactly the mass further merges can still reclaim, corpus-weighted
    for free (a high-fertility language with 10x the tokens has 10x
    the reclaimable mass).  If every language is already at fertility
    1.0 the split is even.

    Apportionment is largest-remainder (Hamilton): floor quotas by
    exact BIGINT floor-div, then the `R = budget - sum(floors)` odd
    units go to the largest fractional remainders (ties broken by
    group name) — so `sum(merge_budget) == total_budget` EXACTLY,
    every step integer and oracle-replayable.  Unlike
    `temperature_source_sample` (which rounds per-source to avoid a
    corpus-scale global sort), the frame here is |languages| rows, so
    exactness costs one window pass over a handful of rows.

    `min_per_group` is a floor: every language gets at least that many
    merges; the remainder is apportioned by weight.  Fails loudly (in
    the plan, via assert_true) if the floors alone exceed the budget.

    Scale: the input is already group-bounded (|langs| rows); both
    window passes run on that tiny frame — the corpus was touched
    once, by `bpe_apply_stats`.  Output: (group, excess_units,
    merge_budget)."""
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    f = stats.select(
        F.col(group_col),
        F.greatest(F.col("bpe_units") - F.col("ws_tokens"), F.lit(0))
        .cast("long")
        .alias("excess_units"),
    ).select(
        group_col,
        "excess_units",
        F.count(F.lit(1)).over(w_all).cast("long").alias("__m"),
        F.sum("excess_units").over(w_all).alias("__wsum"),
    )
    # the floors-exceed-budget guard is woven INTO __B (the otherwise
    # branch raises), not a side column — a side assert column would be
    # pruned by Catalyst as unused
    raw_b = F.lit(int(total_budget)) - F.lit(int(min_per_group)) * F.col(
        "__m"
    )
    f = (
        f.withColumn(
            "__B",
            F.when(raw_b >= 0, raw_b).otherwise(
                F.raise_error(
                    F.lit(
                        "vocab_budget_rebalance: min_per_group floors "
                        "exceed total_budget"
                    )
                ).cast("long")
            ),
        )
        .withColumn(
            "__w",
            F.when(F.col("__wsum") > 0, F.col("excess_units")).otherwise(
                F.lit(1).cast("long")
            ),
        )
        .withColumn(
            "__wtot",
            F.when(F.col("__wsum") > 0, F.col("__wsum")).otherwise(F.col("__m")),
        )
    )
    # The quota arithmetic is exact integral DIV/pmod over the FULL
    # int64 range (ADVICE r16 flagged the earlier IEEE floor-div,
    # exact only below 2^52 — trillions of excess units times a
    # tens-of-thousands budget, ~3e16, sits between the two bounds and
    # would have silently misapportioned).  What remains is int64
    # OVERFLOW of B*w itself, guarded IN the dataflow branch (a side
    # assert column would be pruned; see the __B guard above); the
    # bound check is itself an exact DIV, never the product — B*w
    # could wrap before a product-form comparison ever ran.
    prod_safe = (F.col("__w") == 0) | (
        F.col("__B") <= F.expr(f"{(1 << 63) - 1} DIV __w")
    )
    f = f.withColumn(
        "__bw",
        F.when(prod_safe, F.col("__B") * F.col("__w")).otherwise(
            F.raise_error(
                F.lit(
                    "vocab_budget_rebalance: budget * weight overflows "
                    "int64 (2^63); rescale weights (e.g. excess_units "
                    "// 2^k) before apportioning"
                )
            ).cast("long")
        ),
    )
    f = f.withColumn("__base", F.expr("__bw DIV __wtot")).withColumn(
        "__fr", F.pmod(F.col("__bw"), F.col("__wtot"))
    )
    f = f.withColumn("__R", F.col("__B") - F.sum("__base").over(w_all))
    f = f.withColumn(
        "__rk",
        F.row_number().over(
            Window.orderBy(F.desc("__fr"), F.col(group_col).asc())
        ),
    )
    return f.select(
        group_col,
        "excess_units",
        (
            F.lit(int(min_per_group))
            + F.col("__base")
            + F.when(F.col("__rk") <= F.col("__R"), F.lit(1)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("merge_budget"),
    )


def sql_vocab_budget(
    n_merges: int,
    *,
    total_budget: int,
    min_per_group: int = 0,
    group_col: str = "lang",
    **kw,
) -> str:
    """DuckDB replay of `bpe_apply_stats` -> `vocab_budget_rebalance`:
    the stats query nests as a materialized CTE, then the Hamilton
    apportionment replays in plain BIGINT arithmetic."""
    stats_sql = sql_bpe_apply_stats(n_merges, group_cols=[group_col], **kw)
    return f"""WITH stats AS MATERIALIZED (
{stats_sql}
),
wts AS (
  SELECT {group_col},
         CAST(greatest(bpe_units - ws_tokens, 0) AS BIGINT) AS excess_units
  FROM stats
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS m,
         CAST(sum(excess_units) AS BIGINT) AS W
  FROM wts
),
eff AS (
  SELECT {group_col}, excess_units,
         CASE WHEN W > 0 THEN excess_units ELSE CAST(1 AS BIGINT) END AS w,
         CASE WHEN W > 0 THEN W ELSE m END AS Wt,
         CAST({total_budget} - {min_per_group} * m AS BIGINT) AS B
  FROM wts CROSS JOIN tot
),
base AS (
  SELECT *, (B * w) // Wt AS fl, (B * w) % Wt AS fr FROM eff
),
ranked AS (
  SELECT *, B - sum(fl) OVER () AS R,
         row_number() OVER (ORDER BY fr DESC, {group_col}) AS rk
  FROM base
)
SELECT {group_col}, excess_units,
       CAST({min_per_group} + fl + CASE WHEN rk <= R THEN 1 ELSE 0 END
            AS BIGINT) AS merge_budget
FROM ranked"""


# --- grouped (per-language) training ----------------------------------------
def _grouped_word_frequencies(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    *,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """(group, w, freq) — `word_frequencies` keyed by the group column;
    still the single corpus-sized aggregation of the run (the group
    key rides the same shuffle for free)."""
    from metrics_service_spark.operators.similarity import _spread

    return (
        _spread(docs.select(F.col(group_col), F.col(text_col)))
        .select(
            F.col(group_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
        )
        .filter(F.col("w").rlike(WORD_RE) & (F.length("w") <= max_word_len))
        .groupBy(group_col, "w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train_grouped_local_finish(
    docs: DataFrame,
    text_col: str = "text",
    *,
    group_col: str = "lang",
    budgets: dict[str, int],
    max_word_len: int = MAX_WORD_LEN,
    max_vocab_rows: int = MAX_VOCAB_ROWS,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Train ONE BPE merge table PER GROUP (language) under per-group
    merge budgets — the step `vocab_budget_rebalance`'s output drives.
    ONE corpus shuffle (the grouped word-frequency agg), the per-group
    vocabularies collected under the same bounded-transfer guard as
    `bpe_train_local_finish`, then the lazy-invalidation heap trainer
    runs per group on the driver — O(1) Spark jobs at any budget.
    Per-group training is independent: each group's slice equals
    `bpe_train_local_finish` on that group's documents at its budget.

    Groups with a budget <= 0 train nothing.  Raises loudly if any
    group exhausts its mergeable pairs before its budget.  Output:
    (group, rank, left_sym, right_sym, pair_count), replayed
    bit-for-bit by `sql_bpe_grouped_merge_table`."""
    if not budgets:
        raise ValueError("bpe_train_grouped_local_finish: budgets empty")
    # only groups that will actually train consume the bounded-transfer
    # headroom (ADVICE r16: a dead budget<=0 group's vocab rows could
    # trip the max_vocab_rows guard for nothing — they were skipped
    # after the collect anyway)
    live = sorted(g for g, b in budgets.items() if b > 0)
    gwf = (
        _grouped_word_frequencies(
            docs, text_col, group_col, max_word_len=max_word_len
        )
        if word_freqs is None
        else word_freqs
    )
    tbl = _bounded_arrow(
        gwf.filter(F.col(group_col).isin(live)), max_vocab_rows
    )
    if tbl is None:
        raise ValueError(
            f"bpe_train_grouped_local_finish: vocabulary exceeds "
            f"max_vocab_rows={max_vocab_rows}; filter the input or "
            f"raise max_vocab_rows explicitly"
        )
    rows = tbl.to_pylist()
    spark = docs.sparkSession
    merges: list[tuple[str, int, str, str, int]] = []
    for g in live:
        gfreqs = {r["w"]: r["freq"] for r in rows if r[group_col] == g}
        table = _heap_train_from_freqs(gfreqs, n_merges=budgets[g], label=g)
        merges.extend((g, *row) for row in table)
    return spark.createDataFrame(
        merges,
        f"{group_col} string, rank int, left_sym string, "
        f"right_sym string, pair_count bigint",
    )


def sql_bpe_grouped_ctes(
    budgets: dict[str, int] | None = None,
    *,
    group_col: str = "lang",
    max_word_len: int = MAX_WORD_LEN,
    docs_table: str = "documents",
    text_col: str = "text",
    budget_cte: str | None = None,
    n_rounds: int | None = None,
) -> tuple[str, str]:
    """Grouped-training CTE body: `sql_bpe_ctes` with the group column
    riding every state, the per-round argmax partitioned by group, and
    each group's budget gating which rounds it participates in.  A
    group without a b{n} row (budget spent) LEFT-joins a NULL pair and
    its syms pass through unchanged — the trainer's group that has
    stopped merging.
    Vocab states are always AS MATERIALIZED (each r{n} has two
    consumers; see sql_bpe_ctes).

    The vocab states carry EVERY group in the corpus (a group outside
    the budgets simply never matches a b{n} row and rides through
    character-segmented) — this is what makes the same CTE body serve
    both the merge-table oracle and the grouped-APPLY oracle, whose
    Spark side builds its vocabulary from the corpus, not the budget
    list.  Gating comes from either `budgets` (driver-side constants,
    like n_merges) or `budget_cte` — the name of a ({group_col},
    merge_budget) CTE computed EARLIER IN THE SAME QUERY (the
    fertility->apportionment pipeline), with `n_rounds` a static
    unroll bound >= any budget the CTE can emit (total_budget is
    always safe; rounds past every budget are no-op passthroughs)."""
    if (budgets is None) == (budget_cte is None):
        raise ValueError("pass exactly one of budgets / budget_cte")
    if budget_cte is None:
        groups = sorted(budgets)
        n_rounds = max(budgets.values())
    else:
        if n_rounds is None:
            raise ValueError("budget_cte requires an explicit n_rounds")
    ctes = [
        f"""words AS MATERIALIZED (
  SELECT {group_col}, w, count(*) AS freq FROM (
    SELECT {group_col}, t.w FROM {docs_table}, UNNEST(string_split_regex(lower({text_col}), '\\s+')) t(w)
  ) WHERE regexp_full_match(w, '[a-z]+') AND length(w) <= {max_word_len}
  GROUP BY {group_col}, w
)""",
        f"""r0 AS MATERIALIZED (
  SELECT {group_col}, w, freq,
         list_transform(generate_series(1, length(w)), i -> w[i]) AS syms
  FROM words
)""",
    ]
    for n in range(n_rounds):
        if budget_cte is None:
            active = sorted(g for g in groups if budgets[g] > n)
            gate = group_col + " IN (" + ", ".join(
                f"'{g}'" for g in active
            ) + ")"
        else:
            gate = (
                f"{group_col} IN (SELECT {group_col} FROM {budget_cte} "
                f"WHERE merge_budget > {n})"
            )
        ctes.append(
            f"""p{n} AS (
  SELECT {group_col}, pr.l AS l, pr.r AS r, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM r{n}, UNNEST(list_transform(generate_series(1, len(syms) - 1),
        i -> struct_pack(l := syms[i], r := syms[i + 1]))) t(pr)
  WHERE len(syms) >= 2 AND {gate}
  GROUP BY 1, 2, 3
)""",
        )
        ctes.append(
            f"""b{n} AS (
  SELECT {group_col}, l, r, pair_count FROM (
    SELECT *, row_number() OVER (PARTITION BY {group_col}
                ORDER BY pair_count DESC, l, r) AS rn
    FROM p{n}
  ) WHERE rn = 1
)""",
        )
        ctes.append(
            f"""m{n} AS (
  SELECT {group_col}, w, freq, i, sym, br,
         is_m AND (i - min(CASE WHEN is_m THEN i END) OVER
             (PARTITION BY {group_col}, w, grp)) % 2 = 0 AS taken
  FROM (
    SELECT *, count(*) FILTER (NOT is_m) OVER
             (PARTITION BY {group_col}, w ORDER BY i ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT d.{group_col}, d.w, d.freq, t.i, d.syms[t.i] AS sym, b.r AS br,
             coalesce(t.i < len(d.syms) AND d.syms[t.i] = b.l
              AND d.syms[t.i + 1] = b.r, FALSE) AS is_m
      FROM r{n} d LEFT JOIN b{n} b USING ({group_col}),
           UNNEST(generate_series(1, len(d.syms))) t(i)
    )
  )
)""",
        )
        ctes.append(
            f"""r{n + 1} AS MATERIALIZED (
  SELECT {group_col}, w, any_value(freq) AS freq,
         list(CASE WHEN taken THEN sym || br ELSE sym END ORDER BY i) AS syms
  FROM (SELECT *, lag(taken) OVER (PARTITION BY {group_col}, w ORDER BY i) AS prev_taken
        FROM m{n})
  WHERE NOT coalesce(prev_taken, FALSE)
  GROUP BY {group_col}, w
)""",
        )
    return ",\n".join(ctes), f"r{n_rounds}"


def sql_bpe_grouped_merge_table(
    budgets: dict[str, int], *, group_col: str = "lang", **kw
) -> str:
    ctes, _ = sql_bpe_grouped_ctes(budgets, group_col=group_col, **kw)
    n_rounds = max(budgets.values())
    unions = "\nUNION ALL\n".join(
        f"SELECT {group_col}, CAST({n} AS INT) AS rank, l AS left_sym, "
        f"r AS right_sym, pair_count FROM b{n}"
        for n in range(n_rounds)
    )
    return f"WITH {ctes}\n{unions}"


def sql_bpe_budget_retrain(
    n_merges_current: int,
    *,
    total_budget: int,
    min_per_group: int = 1,
    group_col: str = "lang",
    **kw,
) -> str:
    """The whole tokenizer loop as ONE relational replay: the current
    tokenizer's fertility stats -> Hamilton merge-budget apportionment
    (`sql_vocab_budget`, nested as a materialized `budget` CTE with
    its own scoped r0..r{k} states) -> grouped retraining gated per
    round by that DATA-DEPENDENT budget CTE.  The grouped rounds
    unroll to the static bound `total_budget` (no group can ever be
    granted more); rounds past every group's budget are no-op
    passthroughs, so the unroll bound is safe at any apportionment."""
    budget_sql = sql_vocab_budget(
        n_merges_current,
        total_budget=total_budget,
        min_per_group=min_per_group,
        group_col=group_col,
        **kw,
    )
    ctes, _ = sql_bpe_grouped_ctes(
        budget_cte="budget",
        n_rounds=total_budget,
        group_col=group_col,
        **kw,
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT {group_col}, CAST({n} AS INT) AS rank, l AS left_sym, "
        f"r AS right_sym, pair_count FROM b{n}"
        for n in range(total_budget)
    )
    return f"""WITH budget AS MATERIALIZED (
{budget_sql}
),
{ctes}
{unions}"""


def bpe_budget_retrain(
    docs: DataFrame,
    text_col: str = "text",
    *,
    group_col: str = "lang",
    n_merges_current: int = 6,
    total_budget: int,
    min_per_group: int = 1,
    max_word_len: int = MAX_WORD_LEN,
) -> DataFrame:
    """The full tokenizer-improvement loop, end to end: train the
    CURRENT tokenizer (driver-local finish — O(1) jobs), evaluate its
    per-language fertility (`bpe_apply_stats`), apportion the next
    vocabulary's merge budget by reclaimable excess mass
    (`vocab_budget_rebalance`), and retrain PER LANGUAGE under those
    budgets (`bpe_train_grouped_local_finish`).  The budget crossing to
    the driver is |langs| rows (the same bounded-transfer class as the
    merge table); the vocabulary collects are guarded like every
    driver-local finish, so the WHOLE loop is O(1) Spark jobs
    regardless of total_budget.  Output: the new per-language merge
    table, replayed bit-for-bit by `sql_bpe_budget_retrain`."""
    # r17 (guide §2.4): ONE grouped word-frequency pass serves the
    # whole loop.  The flat (w, freq) frame the current-tokenizer train
    # and the fertility eval need is the grouped frame re-aggregated by
    # word — a VOCAB-sized aggregation (NULL group keys survive a
    # groupBy, so the re-agg covers every document) — and the grouped
    # retrain at the end reuses the same checkpointed frame; the old
    # shape tokenized the corpus three times (train, stats, retrain).
    gwf = _grouped_word_frequencies(
        docs, text_col, group_col, max_word_len=max_word_len
    ).localCheckpoint(eager=False)
    wf = (
        gwf.groupBy("w")
        .agg(F.sum("freq").alias("freq"))
        .localCheckpoint(eager=False)
    )
    current = bpe_train_local_finish(
        docs,
        text_col,
        n_merges=n_merges_current,
        max_word_len=max_word_len,
        word_freqs=wf,
    )
    stats = bpe_apply_stats(
        docs,
        current,
        text_col=text_col,
        group_cols=[group_col],
        max_word_len=max_word_len,
        word_freqs=wf,
    )
    budget_rows = vocab_budget_rebalance(
        stats,
        group_col,
        total_budget=total_budget,
        min_per_group=min_per_group,
    ).collect()
    budgets = {
        r[group_col]: int(r["merge_budget"])
        for r in budget_rows
        if r["merge_budget"] > 0
    }
    return bpe_train_grouped_local_finish(
        docs,
        text_col,
        group_col=group_col,
        budgets=budgets,
        max_word_len=max_word_len,
        word_freqs=gwf,
    )


# --- grouped (per-language) apply -------------------------------------------
def _collect_grouped_merges(
    merge_table: DataFrame, group_col: str
) -> dict[str, list[tuple[str, str]]]:
    """Collect a persisted GROUPED merge table (sum-of-budgets rows —
    the bounded-transfer class), validating each group's ranks are
    exactly 0..n_g-1 distinct (the `_collect_merges` fail-loud
    contract, per group)."""
    rows = merge_table.orderBy(group_col, "rank").collect()
    out: dict[str, list[tuple[str, str]]] = {}
    for r in rows:
        out.setdefault(r[group_col], []).append(
            (r["rank"], r["left_sym"], r["right_sym"])
        )
    for g, seq in out.items():
        if [x[0] for x in seq] != list(range(len(seq))):
            raise ValueError(
                f"grouped merge table is corrupt for group {g!r}: ranks "
                f"must be exactly 0..{len(seq) - 1} distinct, got "
                f"{[x[0] for x in seq][:20]}"
            )
        _validate_merge_symbols(seq, f"grouped merge table (group {g!r})")
    return {g: [(l, r) for _, l, r in seq] for g, seq in out.items()}


def _grouped_vocab_replay(
    docs: DataFrame,
    merges: dict[str, list[tuple[str, str]]],
    *,
    group_col: str,
    text_col: str,
    max_word_len: int,
    checkpoint_every: int,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """(group, w, syms): the DISTINCT (group, word) vocabulary of
    `docs` segmented by each group's merge list.  A caller-supplied
    `word_freqs` (the shared grouped (group, w, freq) frame over the
    SAME corpus) replaces the tokenize + distinct exchange (r17,
    guide §2.4).

    r17 optimization (guide §2.4/§4.1): the old shape applied rank
    levels as ONE broadcast join + column-valued interpreted greedy
    scan PER LEVEL — max(budget) broadcast exchanges and interpreted
    folds (the doc_bpe_apply_grouped_m40 bench entry spent 16.4 s
    mostly there).  Merge lists are per-group CONSTANTS (collected
    from the bounded merge table), so the replay now checkpoints the
    vocab once and runs each group's LITERAL merge chain over its
    slice (`replay_merges` — the codegen flat-string form), unioned
    with the untouched passthrough slice for groups without a table
    (same NULL-arm semantics as the old left join, including NULL
    group keys).  Zero joins, zero broadcasts, |groups| codegen chain
    scans over one materialized vocab.  Shared by the grouped apply
    and the grouped encode."""
    from functools import reduce

    from metrics_service_spark.operators.similarity import _spread

    if word_freqs is None:
        words = (
            _spread(docs.select(F.col(group_col), F.col(text_col)))
            .select(
                F.col(group_col),
                F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
            )
            .filter(
                F.col("w").rlike(WORD_RE) & (F.length("w") <= max_word_len)
            )
            .distinct()
            .select(group_col, "w", F.split("w", "").alias("syms"))
        )
    else:
        words = word_freqs.select(
            group_col, "w", F.split("w", "").alias("syms")
        )
    groups = sorted(g for g, seq in merges.items() if seq and g is not None)
    if not groups:
        return words
    words = words.localCheckpoint(eager=False)
    # NULL group keys and groups with no merge rows pass through
    # char-segmented (the old broadcast left join's NULL arm)
    branches = [
        words.filter(
            F.col(group_col).isNull() | ~F.col(group_col).isin(groups)
        )
    ]
    for g in groups:
        seg = replay_merges(
            words.filter(F.col(group_col) == g),
            merges[g],
            checkpoint_every=checkpoint_every,
        )
        branches.append(seg.select(group_col, "w", "syms"))
    return reduce(lambda a, b: a.unionByName(b), branches)


def bpe_apply_grouped(
    docs: DataFrame,
    merge_table: DataFrame,
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    checkpoint_every: int = 32,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Tokenize every document with ITS OWN group's stored merge table
    — the apply side of `bpe_train_grouped_local_finish` (a
    multilingual pipeline trains one tokenizer per language and then
    segments each document with its language's table).  Zero training
    jobs, like `bpe_apply`.

    Plan shape: collect the grouped merge table (sum-of-budgets rows,
    validated per group), build the DISTINCT (group, word) vocabulary
    of `docs` (one vocab-sized shuffle), replay each group's literal
    merge chain over its slice as codegen flat-string scans
    (`_grouped_vocab_replay`; words of groups without a table pass
    through char-segmented), and join the per-(group, word) unit
    counts back to the token stream on (group, word).  A lazy
    localCheckpoint every `checkpoint_every` merges bounds expression
    depth, same cadence trade as `replay_merges`."""
    from metrics_service_spark.operators.similarity import _spread

    merges = _collect_grouped_merges(merge_table, group_col)
    words = _grouped_vocab_replay(
        docs,
        merges,
        group_col=group_col,
        text_col=text_col,
        max_word_len=max_word_len,
        checkpoint_every=checkpoint_every,
        word_freqs=word_freqs,
    )
    units = words.select(group_col, "w", F.size("syms").alias("__units"))
    toks = (
        _spread(docs.select(F.col(id_col), F.col(group_col), F.col(text_col)))
        .select(
            F.col(id_col),
            F.col(group_col),
            F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    return (
        toks.join(units, [group_col, "w"], "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ws_tokens"),
            F.sum(F.coalesce("__units", F.lit(1)))
            .cast("long")
            .alias("n_bpe_units"),
        )
    )


def sql_bpe_apply_grouped_counts(
    budgets: dict[str, int],
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    docs_table: str = "documents",
    text_col: str = "text",
    **kw,
) -> str:
    """DuckDB replay: the grouped training CTEs' FINAL vocab state is
    each group's segmentation; documents join it on (group, word).
    Documents of groups outside the budget table (or OOV words) take
    the one-unit fallback, mirroring `bpe_apply_grouped`'s left
    join."""
    ctes, final = sql_bpe_grouped_ctes(
        budgets,
        group_col=group_col,
        docs_table=docs_table,
        text_col=text_col,
        **kw,
    )
    return f"""WITH {ctes}
SELECT d.{id_col},
       CAST(count(*) AS BIGINT) AS n_ws_tokens,
       CAST(sum(coalesce(len(v.syms), 1)) AS BIGINT) AS n_bpe_units
FROM (SELECT {id_col}, {group_col}, t.w
      FROM {docs_table}, UNNEST(string_split_regex(lower({text_col}), '\\s+')) t(w)
      WHERE t.w <> '') d
LEFT JOIN {final} v ON d.{group_col} = v.{group_col} AND d.w = v.w
GROUP BY 1"""


# --- grouped (per-language) encode ------------------------------------------
def bpe_encode_digest_grouped(
    docs: DataFrame,
    merge_table: DataFrame,
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_word_len: int = MAX_WORD_LEN,
    checkpoint_every: int = 32,
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """`bpe_encode_digest` per language: each document's ordered
    unit-ID sequence under ITS language's stored table and the grouped
    export's per-language dense ids, reduced to (id, n_units,
    ids_digest).  Tokens of languages with no merge table — and OOV
    tokens everywhere — encode as the single id -1: a language's
    export carries every unit its replay can emit, so the per-word id
    join is all-or-nothing per language (no partial sequences).

    Plan shape: the shared grouped replay (`_grouped_vocab_replay`,
    vocab-sized, one literal flat-string chain per group) feeds a
    (group, unit) id join against the grouped export — both sides
    vocab-bounded; the corpus token stream joins per-(group, word) id
    arrays and ONE doc-keyed aggregation reassembles each sequence by
    (pos, sympos), the same single corpus-mass exchange as the flat
    encode."""
    merges = _collect_grouped_merges(merge_table, group_col)
    # one shared grouped (group, w, freq) pass feeds BOTH the export's
    # char set and the replay vocabulary (r17, guide §2.4 — the flat
    # encode's shared-pass shape, grouped)
    gwf = (
        _grouped_word_frequencies(
            docs, text_col, group_col, max_word_len=max_word_len
        ).localCheckpoint(eager=False)
        if word_freqs is None
        else word_freqs
    )
    ids = bpe_vocab_export_grouped(
        docs,
        merge_table,
        group_col=group_col,
        text_col=text_col,
        max_word_len=max_word_len,
        word_freqs=gwf,
    ).select(group_col, "unit", "unit_id")
    words = _grouped_vocab_replay(
        docs,
        merges,
        group_col=group_col,
        text_col=text_col,
        max_word_len=max_word_len,
        checkpoint_every=checkpoint_every,
        word_freqs=gwf,
    )
    word_ids = (
        words.select(
            group_col, "w", F.posexplode("syms").alias("sympos", "unit")
        )
        .join(ids, [group_col, "unit"])
        .groupBy(group_col, "w")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sympos", "unit_id"))),
                lambda x: x.unit_id,
            ).alias("__ids")
        )
    )
    from metrics_service_spark.operators.similarity import _spread

    toks = (
        _spread(
            docs.select(F.col(id_col), F.col(group_col), F.col(text_col))
        )
        .select(
            F.col(id_col),
            F.col(group_col),
            F.posexplode(
                F.split(F.lower(F.col(text_col)), r"\s+")
            ).alias("pos", "w"),
        )
        .filter(F.col("w") != "")
    )
    per_tok = toks.join(word_ids, [group_col, "w"], "left").select(
        id_col,
        "pos",
        F.coalesce(
            F.col("__ids"), F.array(F.lit(-1).cast("long"))
        ).alias("__ids"),
    )
    seq = per_tok.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "__ids"))),
                lambda x: x["__ids"],
            )
        ).alias("__seq")
    )
    return seq.select(
        id_col,
        F.size("__seq").cast("long").alias("n_units"),
        F.md5(
            F.concat_ws(",", F.transform("__seq", lambda i: i.cast("string")))
        ).alias("ids_digest"),
    )


def sql_bpe_encode_digest_grouped(
    budgets: dict[str, int],
    *,
    group_col: str = "lang",
    id_col: str = "doc_id",
    docs_table: str = "documents",
    text_col: str = "text",
    **kw,
) -> str:
    """DuckDB replay of `bpe_encode_digest_grouped`: the grouped
    training CTEs' final vocab state gives each (group, word)'s
    ordered units; units inner-join the grouped export ids (absent
    groups drop whole, never partially); the per-document digest
    string_aggs ids by (token position, unit position), OOV and
    no-tokenizer tokens contributing the single id -1."""
    if any(b <= 0 for b in budgets.values()):
        raise ValueError(
            "sql_bpe_encode_digest_grouped: all budgets must be > 0"
        )
    ctes, final = sql_bpe_grouped_ctes(
        budgets, group_col=group_col, docs_table=docs_table,
        text_col=text_col, **kw,
    )
    n_rounds = max(budgets.values())
    merge_units = "\n  UNION ALL\n".join(
        f"  SELECT {group_col}, l || r AS unit, {n} AS first_rank FROM b{n}"
        for n in range(n_rounds)
    )
    groups_in = ", ".join(f"'{g}'" for g in sorted(budgets))
    return f"""WITH {ctes},
all_units AS (
  SELECT DISTINCT {group_col}, unnest(syms) AS unit, -1 AS first_rank
  FROM r0 WHERE {group_col} IN ({groups_in})
  UNION ALL
{merge_units}
),
export AS (
  SELECT {group_col}, unit,
         CAST(row_number() OVER (PARTITION BY {group_col}
                  ORDER BY first_rank, unit) - 1 AS BIGINT) AS unit_id
  FROM (SELECT {group_col}, unit, min(first_rank) AS first_rank
        FROM all_units GROUP BY 1, 2)
),
word_ids AS (
  SELECT {group_col}, w, list(unit_id ORDER BY j) AS ids FROM (
    SELECT v.{group_col}, v.w, t.j, e.unit_id
    FROM {final} v,
         UNNEST(generate_series(1, len(v.syms))) t(j),
         export e
    WHERE v.{group_col} = e.{group_col} AND v.syms[t.j] = e.unit
  ) GROUP BY 1, 2
),
toks AS (
  SELECT {id_col}, {group_col}, t.i AS pos, d.ws[t.i] AS w
  FROM (SELECT {id_col}, {group_col},
               string_split_regex(lower({text_col}), '\\s+') AS ws
        FROM {docs_table}) d,
       UNNEST(generate_series(1, len(d.ws))) t(i)
  WHERE d.ws[t.i] <> ''
),
per_tok AS (
  SELECT toks.{id_col}, toks.pos,
         coalesce(word_ids.ids, [CAST(-1 AS BIGINT)]) AS ids
  FROM toks LEFT JOIN word_ids
    ON toks.{group_col} = word_ids.{group_col} AND toks.w = word_ids.w
),
flat AS (
  SELECT {id_col}, pos, u.j AS sympos, ids[u.j] AS unit_id
  FROM per_tok, UNNEST(generate_series(1, len(ids))) u(j)
)
SELECT {id_col},
       CAST(count(*) AS BIGINT) AS n_units,
       md5(string_agg(CAST(unit_id AS VARCHAR), ',' ORDER BY pos, sympos))
           AS ids_digest
FROM flat
GROUP BY 1"""
