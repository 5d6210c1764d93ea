"""Gopher-style document quality rules (Rae et al. '21, Appendix A).

Extension beyond reference parity (the reference has no text analytics;
see ``SURVEY.md`` §2 extension table).  This is the standard "rule
gate" stage of web-scale LLM corpus curation: a bundle of cheap,
interpretable per-document structural checks that remove machine
garbage and boilerplate BEFORE the expensive dedup/classifier stages
run.  Complements the soft signals already here (``quality_score``,
``linear_quality_score``, entropy, repetition): those rank, this GATES
with document-level thresholds a reviewer can read.

Scale design (100 TB): every rule is a pure Column expression over one
text scan — whole-stage codegen, zero shuffles, zero UDFs, and the
regexes are RE2-portable.  The keep decision is scan-side, so a
downstream ``filter(keep)`` prunes at the parquet reader and composes
with any later stage without materialization.

Rule set (classic Gopher thresholds, all parameterizable):

* word count within ``[min_words, max_words]``
* mean word length within ``[3, 10]``
* symbol-to-word ratio (``#`` and ellipsis) ≤ 0.1
* ≤ 90 % of lines start with a bullet
* ≤ 30 % of lines end with an ellipsis
* ≥ 80 % of words contain at least one alphabetic character
* at least 2 distinct common English stopwords appear

Plus the Appendix-A REPETITION rules (r7,
:func:`gopher_repetition_flags`): duplicate-line/paragraph fraction and
character fraction, top-{2,3,4}-gram character share,
duplicate-{5..10}-gram character fraction — the machine-generated-text
signals the per-document quality rules above cannot see. These need
per-document gram FREQUENCIES, which pure Spark expressions cannot
compute fast (higher-order-function lambdas evaluate interpreted) and
a corpus-wide count shuffle computes wastefully (every gram string on
the wire); instead an Arrow-batched kernel emits the exact integer
statistics per document — still zero shuffle, still one scan, with the
fractions and rounding JVM-side so the oracle semantics are shared
with every other gate (measured 19x over the shuffle formulation on 1M
docs; see the function docstring).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import (
    EXPLICIT_WS,
    SCRIPT_MIN_RATIO,
    UNSEGMENTED_CLASS,
    UNSEGMENTED_PARTICLES,
    has_unsegmented_chars,
    tokens,
    units_from_counts,
    unsegmented_ratio,
    unsegmented_script_counts,
)

#: Small function-word set for the "natural language" check — must stay
#: in sync with any SQL oracle re-implementation.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

BULLET_PREFIXES = ("- ", "* ", "•")


def _make_kernel_tokenizer(script_aware: bool):
    r"""Tokenizer shared by BOTH repetition-kernel engines (hoisted in
    r12 so the script-aware switch cannot drift between them): Spark's
    trim-then-\s+ split, with unsegmented-script docs (ratio >=
    SCRIPT_MIN_RATIO, mirroring the gates' switch) char-tokenized
    first under ``script_aware``."""
    import re as _re

    ws = _re.compile(r"\s+", _re.ASCII)
    unseg_re = _re.compile("(" + UNSEGMENTED_CLASS + ")")
    nonws_re = _re.compile(EXPLICIT_WS + "+")

    def tokenize(t: str) -> list:
        low = t.lower()
        if script_aware and unseg_re.search(low):
            hits = unseg_re.findall(low)
            nonspace = max(len(nonws_re.sub("", low)), 1)
            if round(len(hits) / nonspace, 6) >= SCRIPT_MIN_RATIO:
                low = unseg_re.sub(r" \1 ", low)
        return [w for w in ws.split(low.strip(" ")) if w != ""]

    return tokenize


def _lines(col: Column) -> Column:
    return F.split(col, "\n")


def _nonblank_lines(col: Column) -> Column:
    return F.filter(_lines(col), lambda l: F.trim(l) != "")


def _metrics_from(text: Column, toks: Column, lines: Column) -> dict:
    """The seven rule metrics as (rounded) Column expressions over a
    text column plus its token / non-blank-line arrays — shared by the
    flags frame and the single-scan filter so their semantics cannot
    drift apart. Callers choose whether ``toks``/``lines`` are inline
    expressions (filter path: codegen's subexpression elimination
    handles one fused predicate well) or references to a prior
    projection (flags path: seven separate output aliases each re-ran
    the split — measured 7.7x slower on 1M docs — so the arrays are
    materialized once; Catalyst's CollapseProject keeps the projection
    separate because the aliases are referenced many times by non-cheap
    expressions, the same trick as ``dedup.py`` minhash hashing)."""
    n_words = F.size(toks).cast("long")
    nw = F.greatest(n_words, F.lit(1)).cast("double")

    # sum of token lengths via aggregate — no second split of the text
    tok_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    ).cast("double")

    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    # unicode ellipsis counts once; "..." runs count once per occurrence
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"\.{3}|…"), 0))

    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_cond = lambda l: (
        F.trim(l).startswith(BULLET_PREFIXES[0])
        | F.trim(l).startswith(BULLET_PREFIXES[1])
        | F.trim(l).startswith(BULLET_PREFIXES[2])
    )
    n_bullet = F.size(F.filter(lines, bullet_cond)).cast("double")
    ellipsis_cond = lambda l: F.trim(l).rlike(r"(\.{3}|…)$")
    n_ell_lines = F.size(F.filter(lines, ellipsis_cond)).cast("double")

    n_alpha_words = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("double")

    low = F.array_distinct(
        F.filter(
            F.transform(toks, lambda t: F.lower(t)),
            lambda t: t.isin(*GOPHER_STOPWORDS),
        )
    )
    return {
        "n_words": n_words,
        "mean_word_len": F.round(tok_chars / nw, 6),
        "symbol_ratio": F.round((n_hash + n_ellipsis).cast("double") / nw, 6),
        "bullet_ratio": F.round(n_bullet / n_lines, 6),
        "ellipsis_ratio": F.round(n_ell_lines / n_lines, 6),
        "alpha_word_ratio": F.round(n_alpha_words / nw, 6),
        "n_stopwords": F.size(low).cast("long"),
    }


def _script_metrics_from(
    text: Column, toks: Column, lines: Column, unseg: "Column | None" = None
) -> dict:
    """Script-aware metric expressions (round 11; round 12 extends the
    script surface and adds a Latin fast screen): documents whose
    non-whitespace characters are >= ``SCRIPT_MIN_RATIO`` unsegmented-
    script letters (Han/Kana/Thai/Lao/Khmer/Myanmar/Tibetan) get a
    CHARACTER-based word proxy — whitespace tokenization sees such a
    page as ~1 giant token, so the plain rules gate those corpora to
    near-zero (the round-10 verdict's #1 gap).  Segmented documents
    take the EXACT ``_metrics_from`` expressions (same rounded values —
    byte-identical to the non-script-aware path, property-tested), so
    every existing Latin oracle is unaffected.

    Unsegmented substitutions (each metric keeps its column name):

    * ``n_words`` -> word-equivalent units
      ``floor(sum(chars_s/divisor_s) + ascii_letters/2)`` in exact
      lcm-scaled integer arithmetic over
      :data:`~hermes_spark.functions.text.UNSEGMENTED_SCRIPTS`
      (han+kana/2, thai/4, lao/4, khmer/6, myanmar/5, tibetan/5;
      embedded ASCII words charged like Han).
    * ``mean_word_len`` -> letter chars per unit (informative only —
      the [3,10] band is a LATIN shape and is skipped for unsegmented
      docs in the keep predicate).
    * ``alpha_word_ratio`` -> letter chars (script letters + ASCII) /
      non-whitespace chars — same "mostly language, not symbols"
      meaning.
    * ``n_stopwords`` -> distinct function PARTICLES present as
      substrings (:data:`UNSEGMENTED_PARTICLES` — five per script) —
      no tokens to count, but natural prose always carries these.
    * ``symbol_ratio`` -> same #/ellipsis count over the unit proxy.
    * ``bullet_ratio`` / ``ellipsis_ratio`` unchanged (line-based).

    Adds ``unsegmented`` (boolean) so the keep decision is auditable
    from the flags frame alone.  Still one scan, pure expressions,
    zero shuffles — the extra regexp counts ride the same projection.

    ``unseg`` (optional) is a pre-materialized "is unsegmented"
    boolean; when ``None`` a screened expression is built here:
    ``has_unsegmented_chars`` (octet-length ASCII short-circuit, then
    one rlike) first, the ratio only when some such char exists.
    Because every metric branches on this boolean inside a
    lazily-evaluated CASE, an all-ASCII document pays ONE length
    compare instead of the seven per-script ``regexp_extract_all``
    counts — the round-11 verdict's measured 1.2-1.5x Latin hot-path
    overhead (values are unchanged: zero unsegmented chars means
    ratio 0, so the screen cannot flip the branch).
    """
    base = _metrics_from(text, toks, lines)
    counts = unsegmented_script_counts(text)
    ascii_l = F.size(
        F.regexp_extract_all(text, F.lit("[A-Za-z]"), 0)
    ).cast("long")
    letter_chars = None
    for c in counts.values():
        letter_chars = c if letter_chars is None else letter_chars + c
    letter_chars = letter_chars + ascii_l
    n_units = units_from_counts(counts, ascii_l)
    nu = F.greatest(n_units, F.lit(1)).cast("double")
    nonspace = F.greatest(
        F.length(F.regexp_replace(text, EXPLICIT_WS + "+", "")), F.lit(1)
    ).cast("double")
    if unseg is None:
        unseg = F.when(
            has_unsegmented_chars(text),
            unsegmented_ratio(text) >= F.lit(float(SCRIPT_MIN_RATIO)),
        ).otherwise(F.lit(False))

    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = F.size(F.regexp_extract_all(text, F.lit(r"\.{3}|…"), 0))
    n_particles = None
    for p in UNSEGMENTED_PARTICLES:
        c = text.contains(p).cast("long")
        n_particles = c if n_particles is None else n_particles + c

    return {
        "unsegmented": unseg,
        "n_words": F.when(unseg, n_units).otherwise(base["n_words"]),
        "mean_word_len": F.when(
            unseg, F.round(letter_chars.cast("double") / nu, 6)
        ).otherwise(base["mean_word_len"]),
        "symbol_ratio": F.when(
            unseg, F.round((n_hash + n_ellipsis).cast("double") / nu, 6)
        ).otherwise(base["symbol_ratio"]),
        "bullet_ratio": base["bullet_ratio"],
        "ellipsis_ratio": base["ellipsis_ratio"],
        "alpha_word_ratio": F.when(
            unseg, F.round(letter_chars.cast("double") / nonspace, 6)
        ).otherwise(base["alpha_word_ratio"]),
        "n_stopwords": F.when(unseg, n_particles).otherwise(
            base["n_stopwords"]
        ).cast("long"),
    }


def _keep_predicate(
    m: dict,
    min_words: int,
    max_words: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    max_bullet_line_ratio: float,
    max_ellipsis_line_ratio: float,
    min_alpha_word_ratio: float,
    min_stopwords: int,
) -> Column:
    """Rule conjunction over a metric-expression mapping (either the
    rounded inline expressions or ``F.col`` references to them).

    When the mapping carries an ``unsegmented`` flag (script-aware
    path), the mean-word-length band applies only to SEGMENTED docs —
    for Han/Kana/Thai the "word" is a fixed-divisor char proxy, so
    chars-per-unit is a constant of the proxy, not a quality signal."""
    mwl_ok = (m["mean_word_len"] >= min_mean_word_len) & (
        m["mean_word_len"] <= max_mean_word_len
    )
    if "unsegmented" in m:
        mwl_ok = m["unsegmented"] | mwl_ok
    return (
        (m["n_words"] >= min_words)
        & (m["n_words"] <= max_words)
        & mwl_ok
        & (m["symbol_ratio"] <= max_symbol_ratio)
        & (m["bullet_ratio"] <= max_bullet_line_ratio)
        & (m["ellipsis_ratio"] <= max_ellipsis_line_ratio)
        & (m["alpha_word_ratio"] >= min_alpha_word_ratio)
        & (m["n_stopwords"] >= min_stopwords)
    )


def gopher_quality_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
    script_aware: bool = False,
) -> DataFrame:
    """Per-document rule metrics + the overall ``keep`` flag.

    Returns ``(id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
    ellipsis_ratio, alpha_word_ratio, n_stopwords, keep)``; ratios are
    6-dp-rounded doubles so the whole frame is engine-reproducible.
    ``keep`` is the conjunction of all seven rules over the rounded
    metrics.

    ``script_aware=True`` (round 11) switches the word proxy for
    Han/Kana/Thai documents (see :func:`_script_metrics_from`) and adds
    an ``unsegmented`` boolean column after the id; segmented documents
    produce byte-identical metric values either way (property-tested),
    so the flag only changes what happens to CJK/Thai corpora: from
    "gated to near-zero" to "gated like everything else".
    """
    # two-step projection: split the text into token / line arrays ONCE,
    # then compute the seven metrics from column references (see
    # _metrics_from docstring for the measured 7.7x).  The script-aware
    # path also materializes the "is unsegmented" boolean once (rlike
    # screen + ratio), so an all-Latin document pays one rlike instead
    # of per-metric regexp counts (r12; see _script_metrics_from).
    text = F.col(text_col)
    pre_cols = [
        F.col(id_col),
        text.alias("__text"),
        tokens(text).alias("__toks"),
        _nonblank_lines(text).alias("__lines"),
    ]
    if script_aware:
        pre_cols.append(
            F.when(
                has_unsegmented_chars(text),
                unsegmented_ratio(text) >= F.lit(float(SCRIPT_MIN_RATIO)),
            )
            .otherwise(F.lit(False))
            .alias("__unseg")
        )
    pre = df.select(*pre_cols)
    if script_aware:
        exprs = _script_metrics_from(
            F.col("__text"), F.col("__toks"), F.col("__lines"),
            unseg=F.col("__unseg"),
        )
    else:
        exprs = _metrics_from(F.col("__text"), F.col("__toks"), F.col("__lines"))
    metrics = pre.select(
        F.col(id_col), *[c.alias(name) for name, c in exprs.items()]
    )
    refs = {name: F.col(name) for name in exprs}
    return metrics.withColumn(
        "keep",
        _keep_predicate(
            refs, min_words, max_words, min_mean_word_len, max_mean_word_len,
            max_symbol_ratio, max_bullet_line_ratio, max_ellipsis_line_ratio,
            min_alpha_word_ratio, min_stopwords,
        ),
    )


def gopher_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
    script_aware: bool = False,
) -> DataFrame:
    """Rows of ``df`` passing every Gopher rule — ONE scan, zero joins.

    The metric expressions are evaluated inline in the filter predicate
    (identical rounded intermediates to :func:`gopher_quality_flags`,
    same ``_metric_exprs``), so the gate rides the parquet scan instead
    of semi-joining a second corpus pass or broadcasting an unbounded
    id set (plan-asserted in ``test_gopher.py``).  ``script_aware``
    as in :func:`gopher_quality_flags`; the script-aware predicate is
    wrapped in a ``has_unsegmented_chars`` screen (octet-length ASCII
    short-circuit, then one rlike) so all-ASCII rows evaluate the PLAIN
    predicate after one length compare (identical decisions — zero
    unsegmented chars takes the base branch of every script-aware
    metric anyway).
    """
    text = F.col(text_col)
    args = (
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_ratio, max_bullet_line_ratio, max_ellipsis_line_ratio,
        min_alpha_word_ratio, min_stopwords,
    )
    base_keep = _keep_predicate(
        _metrics_from(text, tokens(text), _nonblank_lines(text)), *args
    )
    if not script_aware:
        return df.filter(base_keep)
    # bind the switch boolean ONCE (r12 review finding): with
    # unseg=None each of the ~8 script metrics would embed its own
    # copy of the ratio regexes, and a filter predicate gets no
    # reliable subexpression elimination — bind_once routes it through
    # a lambda variable evaluated once per row
    from ..functions.text import bind_once

    unseg_expr = F.when(
        has_unsegmented_chars(text),
        unsegmented_ratio(text) >= F.lit(float(SCRIPT_MIN_RATIO)),
    ).otherwise(F.lit(False))
    script_keep = bind_once(
        unseg_expr,
        lambda u: _keep_predicate(
            _script_metrics_from(
                text, tokens(text), _nonblank_lines(text), unseg=u
            ),
            *args,
        ),
    )
    return df.filter(
        F.when(has_unsegmented_chars(text), script_keep).otherwise(base_keep)
    )


#: Rae et al. '21 Appendix A1.2 repetition thresholds.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_MAX = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_frac: float = 0.30,
    max_dup_para_char_frac: float = 0.20,
    top_ngram_max: "dict[int, float] | None" = None,
    dup_ngram_max: "dict[int, float] | None" = None,
    engine: str = "counter",
    script_aware: bool = False,
) -> DataFrame:
    r"""Gopher repetition-rule metrics + the overall ``keep`` flag.

    Returns one row per input row:
    ``(id, dup_line_frac, dup_line_char_frac, dup_para_frac,
    dup_para_char_frac, top_{n}gram_char_frac...``,
    ``dup_{n}gram_char_frac...``, ``keep)``
    — every fraction 6-dp-rounded, ``keep`` the conjunction of all
    thresholds over the rounded values (consistent with
    :func:`gopher_quality_flags`).

    Definitions (Rae et al. Appendix A1.2, with the standard
    overlap-agnostic reading used by open-source reimplementations):

    * ``dup_line_frac`` — 1 − distinct/total over trimmed non-blank
      lines (exact, case-sensitive line matches).
    * ``dup_line_char_frac`` — characters sitting in lines that occur
      ≥ 2 times, over all line characters.
    * ``dup_para_frac`` / ``dup_para_char_frac`` — the same two over
      paragraphs (blank-line-separated blocks, ``\n\s*\n`` split,
      trimmed).
    * ``top_{n}gram_char_frac`` — characters of the single most
      frequent word n-gram (count × its length; ties broken to the
      lexicographically smallest gram), over the characters of the
      space-joined lowercased token stream.
    * ``dup_{n}gram_char_frac`` — characters in n-grams occurring ≥ 2
      times (count × length summed, capped at 1.0 — the overlap-blind
      upper bound), over the same denominator.

    Documents with no tokens/lines score 0 everywhere and pass.

    ``script_aware=True`` (round 12): a document whose non-whitespace
    chars are >= ``SCRIPT_MIN_RATIO`` unsegmented-script letters is
    CHAR-tokenized for the n-gram rules (every such char becomes its
    own token — the same ``segment_unsegmented`` convention the
    char-level LM uses), so repeated CJK/SEA phrases are visible to
    the top/dup-gram rules instead of the whole page collapsing to ~1
    token with repetition 0.  Line/paragraph rules are unchanged
    (line-based).  Latin documents tokenize identically either way
    (screened in the kernel with one regex search).  Both engines
    implement the same switch (property-tested equal).

    Scale shape: an Arrow-batched ``mapInPandas`` kernel computes the
    EXACT INTEGER quantities per document (Counter over token tuples —
    linear in gram count), and the fractions + 6-dp rounding happen
    JVM-side from those integers, so the float semantics are identical
    to every other gate and to the DuckDB oracle. Zero shuffle. Two
    pure-Spark formulations were measured and rejected on 1M docs: the
    (id, n, gram) explode + count shuffle ships ~|ns| x token-stream
    gram STRINGS (~20 GB, 495 s), and an in-row sorted-array adjacency
    scan is lambda-bound (Spark higher-order functions run interpreted,
    ~310 ns per element-lambda — minutes for ~5 x 10^9 invocations);
    the Arrow kernel does the same counting at Python-dict speed on
    bounded per-batch memory."""
    if top_ngram_max is None:
        top_ngram_max = dict(GOPHER_TOP_NGRAM_MAX)
    if dup_ngram_max is None:
        dup_ngram_max = dict(GOPHER_DUP_NGRAM_MAX)

    from pyspark.sql.types import LongType, StructField, StructType

    top_ns = sorted(top_ngram_max)
    dup_ns = sorted(dup_ngram_max)
    all_ns = sorted(set(top_ns) | set(dup_ns))
    top_set, dup_set = set(top_ns), set(dup_ns)

    fields = [
        StructField("__id", df.schema[id_col].dataType),
        StructField("__tok_chars", LongType()),
    ]
    for fam in ("l", "p"):
        fields += [
            StructField(f"__{fam}_tot", LongType()),
            StructField(f"__{fam}_uniq", LongType()),
            StructField(f"__{fam}_chars_all", LongType()),
            StructField(f"__{fam}_chars_dup", LongType()),
        ]
    fields += [StructField(f"__top{n}", LongType()) for n in top_ns]
    fields += [StructField(f"__dup{n}", LongType()) for n in dup_ns]
    schema = StructType(fields)
    # large-but-narrow inputs (AQE-coalesced intermediate writes)
    # starve this CPU-bound kernel — stats-gated widen, no-op on test
    # frames and wide scans (the zero-shuffle plan contract holds for
    # every well-partitioned input; see plans.rebalance_for_cpu)
    from ..plans import rebalance_for_cpu

    df = rebalance_for_cpu(df)
    src = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))

    def stats(batches):
        import re as _re
        from collections import Counter

        import pandas as pd

        # Text semantics pinned for the oracle: tokens use Spark's
        # trim-then-split (space-only trim; the empty-token filter
        # absorbs edge artifacts), while LINE/PARAGRAPH edges strip the
        # full Java \s class — 'aa' and 'aa\n' are the same paragraph
        # (a hypothesis counterexample caught the space-only version
        # scoring them distinct). Java \s is ASCII (re.ASCII).
        para_re = _re.compile(r"\n\s*\n", _re.ASCII)
        _WS = " \t\n\r\x0b\x0c"
        tokenize = _make_kernel_tokenizer(script_aware)

        def group_stats(items):
            # (tot, uniq, chars_all, chars_dup) over exact duplicates
            c = Counter(items)
            chars_all = sum(len(g) * k for g, k in c.items())
            chars_dup = sum(len(g) * k for g, k in c.items() if k >= 2)
            return len(items), len(c), chars_all, chars_dup

        for b in batches:
            out = {f.name: [] for f in fields}
            for id_, t in zip(b["__id"], b["__t"]):
                t = "" if t is None else str(t)
                toks = tokenize(t)
                lines = [
                    l2 for l2 in (l.strip(_WS) for l in t.split("\n"))
                    if l2 != ""
                ]
                paras = [
                    p2 for p2 in (p.strip(_WS) for p in para_re.split(t))
                    if p2 != ""
                ]
                out["__id"].append(id_)
                tok_chars = sum(len(w) for w in toks)
                if toks:
                    tok_chars += len(toks) - 1  # array_join separators
                out["__tok_chars"].append(tok_chars)
                for fam, items in (("l", lines), ("p", paras)):
                    tot, uniq, call, cdup = group_stats(items)
                    out[f"__{fam}_tot"].append(tot)
                    out[f"__{fam}_uniq"].append(uniq)
                    out[f"__{fam}_chars_all"].append(call)
                    out[f"__{fam}_chars_dup"].append(cdup)
                nt = len(toks)
                # top_{n}gram rules (r8 adaptive fast path): when no
                # 2-gram repeats, NO longer gram repeats either (a
                # repeated n+1-gram contains a repeated n-gram), so for
                # every top n the value is 1 × len(min joined string) —
                # computed as a min over slices of the joined text, no
                # Counter per n and no per-gram " ".join
                g2 = None
                if top_ns and top_ns[0] == 2:
                    g2 = Counter(tuple(toks[i : i + 2]) for i in range(nt - 1))
                if (
                    g2 is not None
                    and (not g2 or max(g2.values()) <= 1)
                    and set(top_ns) <= {2, 3, 4}
                ):
                    joined = " ".join(toks)
                    ol = [0] * (nt + 1)
                    acc = 0
                    for j, w in enumerate(toks):
                        acc += len(w) + 1
                        ol[j + 1] = acc
                    for n in top_ns:
                        m = nt - n + 1
                        if m > 0:
                            top = min(
                                joined[ol[i] : ol[i + n] - 1] for i in range(m)
                            )
                            out[f"__top{n}"].append(len(top))
                        else:
                            out[f"__top{n}"].append(0)
                else:
                    for n in top_ns:
                        grams = (
                            g2
                            if n == 2 and g2 is not None
                            else Counter(
                                tuple(toks[i : i + n]) for i in range(nt - n + 1)
                            )
                        )
                        if grams:
                            best = max(grams.values())
                            # tie-break on the JOINED string (token-tuple
                            # order differs when tokens contain chars
                            # below U+0020, and Spark compares strings)
                            top = min(
                                " ".join(g)
                                for g, k in grams.items()
                                if k == best
                            )
                            out[f"__top{n}"].append(best * len(top))
                        else:
                            out[f"__top{n}"].append(0)
                # dup_{n}gram rules, ascending n with the monotonic skip:
                # once no n-gram reaches count 2, every larger n is 0
                exhausted = False
                for n in dup_ns:
                    if exhausted:
                        out[f"__dup{n}"].append(0)
                        continue
                    grams = Counter(
                        tuple(toks[i : i + n]) for i in range(nt - n + 1)
                    )
                    if not grams or max(grams.values()) < 2:
                        exhausted = True
                        out[f"__dup{n}"].append(0)
                        continue
                    dup = sum(
                        (sum(len(w) for w in g) + n - 1) * k
                        for g, k in grams.items()
                        if k >= 2
                    )
                    out[f"__dup{n}"].append(dup)
            yield pd.DataFrame(out)

    def stats_vector(batches):
        """Batch-vectorized twin of ``stats`` (property-tested
        bit-identical): tokenization and the small line/paragraph
        counters stay per-doc Python; gram counting runs batch-wide in
        numpy via dense length-doubling gram ids + one plain-int64
        np.unique per n.  MEASURED SLOWER than the adaptive Counter
        engine on the 1M-doc Zipf probe (40.2 s vs 21.4 s before the
        counter fast paths; see BASELINE.md r8): the top-gram tie-break
        (min JOINED STRING among max-count grams) degenerates when no
        gram repeats — every gram ties, so the string argmin falls back
        to Python for nearly every doc, erasing the numpy win.  Kept as
        the cross-checking reference/second implementation; ``counter``
        is the default."""
        import re as _re
        from collections import Counter

        import numpy as np
        import pandas as pd

        para_re = _re.compile(r"\n\s*\n", _re.ASCII)
        _WS = " \t\n\r\x0b\x0c"
        tokenize = _make_kernel_tokenizer(script_aware)

        def group_stats(items):
            c = Counter(items)
            chars_all = sum(len(g) * k for g, k in c.items())
            chars_dup = sum(len(g) * k for g, k in c.items() if k >= 2)
            return len(items), len(c), chars_all, chars_dup

        for b in batches:
            ndocs = len(b)
            if ndocs == 0:
                continue
            out = {f.name: [] for f in fields}
            vocab: dict = {}
            ids_parts, len_parts = [], []
            doc_nt = np.empty(ndocs, dtype=np.int64)
            for r, (id_, t) in enumerate(zip(b["__id"], b["__t"])):
                t = "" if t is None else str(t)
                toks = tokenize(t)
                lines = [
                    l2 for l2 in (l.strip(_WS) for l in t.split("\n"))
                    if l2 != ""
                ]
                paras = [
                    p2 for p2 in (p.strip(_WS) for p in para_re.split(t))
                    if p2 != ""
                ]
                out["__id"].append(id_)
                tok_chars = sum(len(w) for w in toks)
                if toks:
                    tok_chars += len(toks) - 1
                out["__tok_chars"].append(tok_chars)
                for fam, items in (("l", lines), ("p", paras)):
                    tot, uniq, call, cdup = group_stats(items)
                    out[f"__{fam}_tot"].append(tot)
                    out[f"__{fam}_uniq"].append(uniq)
                    out[f"__{fam}_chars_all"].append(call)
                    out[f"__{fam}_chars_dup"].append(cdup)
                doc_nt[r] = len(toks)
                ids_parts.append(
                    np.fromiter(
                        (vocab.setdefault(w, len(vocab)) for w in toks),
                        dtype=np.int64,
                        count=len(toks),
                    )
                )
                len_parts.append(
                    np.fromiter(
                        (len(w) for w in toks), dtype=np.int64, count=len(toks)
                    )
                )
            flat = (
                np.concatenate(ids_parts)
                if ids_parts
                else np.empty(0, dtype=np.int64)
            )
            tlens = (
                np.concatenate(len_parts)
                if len_parts
                else np.empty(0, dtype=np.int64)
            )
            doc_of = np.repeat(np.arange(ndocs, dtype=np.int64), doc_nt)
            cs = np.concatenate(([0], np.cumsum(tlens)))
            id2tok = list(vocab)  # insertion order == id order
            total = len(flat)

            topvals = {n: np.zeros(ndocs, dtype=np.int64) for n in top_ns}
            dupvals = {n: np.zeros(ndocs, dtype=np.int64) for n in dup_ns}
            # Dense gram ids by length-doubling: lid[L][i] identifies the
            # L-token window starting at flat position i (ids equal ⟺
            # windows equal, within the batch).  Each level is ONE plain
            # int64 np.unique over (left_id << 31 | right_id) — measured
            # ~17x faster than a structured-dtype unique over the raw
            # (doc, id×n) rows, which in turn lost to the per-doc Counter
            # path (the r8 first cut, 168 s vs 25 s per 1M docs — both
            # probed; see BASELINE.md).  Cross-doc windows get ids too
            # but are never selected: a fully-in-doc window's halves are
            # in-doc by containment.  Dense ids and doc indexes are both
            # < 2^31, so every packed key fits int64.
            lid = {1: flat}

            def _level(L: int):
                got = lid.get(L)
                if got is not None:
                    return got
                a_len = L // 2
                b_len = L - a_len
                a, b = _level(a_len), _level(b_len)
                m = total - L + 1
                if m <= 0:
                    lid[L] = np.empty(0, dtype=np.int64)
                    return lid[L]
                key = (a[:m] << 31) | b[a_len : a_len + m]
                _, inv = np.unique(key, return_inverse=True)
                lid[L] = inv.astype(np.int64, copy=False)
                return lid[L]

            for n in all_ns:
                if total < n:
                    continue
                starts = np.nonzero(doc_of[: total - n + 1] == doc_of[n - 1 :])[0]
                if len(starts) == 0:
                    continue
                key = (doc_of[starts] << 31) | _level(n)[starts]
                _, first_idx, counts = np.unique(
                    key, return_index=True, return_counts=True
                )
                s_u = starts[first_idx]
                docs_u = doc_of[s_u]
                charlen = cs[s_u + n] - cs[s_u] + (n - 1)
                if n in dup_set:
                    mask = counts >= 2
                    if mask.any():
                        dv = dupvals[n]
                        np.add.at(dv, docs_u[mask], charlen[mask] * counts[mask])
                if n in top_set:
                    best = np.zeros(ndocs, dtype=np.int64)
                    np.maximum.at(best, docs_u, counts)
                    tie = counts == best[docs_u]
                    td, tl = docs_u[tie], charlen[tie]
                    mn = np.full(ndocs, np.iinfo(np.int64).max, dtype=np.int64)
                    mx = np.zeros(ndocs, dtype=np.int64)
                    np.minimum.at(mn, td, tl)
                    np.maximum.at(mx, td, tl)
                    have = best > 0
                    tv = topvals[n]
                    clear = have & (mn == mx)  # ties agree on char length
                    tv[clear] = best[clear] * mn[clear]
                    amb = np.nonzero(have & (mn != mx))[0]
                    if len(amb):
                        # rare: max-count grams of one doc differ in
                        # length — resolve the min-JOINED-STRING
                        # tie-break exactly, reconstructing only those
                        # docs' tied grams
                        amb_set = set(amb.tolist())
                        rows_idx = np.nonzero(tie)[0]
                        cand: dict = {}
                        for ri in rows_idx:
                            d = int(docs_u[ri])
                            if d not in amb_set:
                                continue
                            s = int(s_u[ri])
                            g = " ".join(
                                id2tok[int(x)] for x in flat[s : s + n]
                            )
                            prev = cand.get(d)
                            if prev is None or g < prev:
                                cand[d] = g
                        for d, g in cand.items():
                            tv[d] = int(best[d]) * len(g)
            for n in top_ns:
                out[f"__top{n}"] = topvals[n]
            for n in dup_ns:
                out[f"__dup{n}"] = dupvals[n]
            yield pd.DataFrame(out)

    if engine == "vector":
        kern = stats_vector
    elif engine == "counter":
        kern = stats
    else:
        raise ValueError(f"engine must be 'vector' or 'counter', got {engine!r}")
    pre = src.mapInPandas(kern, schema=schema)

    def _frac(num: str, den: str) -> Column:
        return F.when(F.col(den) <= 0, F.lit(0.0)).otherwise(
            F.col(num) / F.col(den).cast("double")
        )

    cols = [
        F.col("__id").alias(id_col),
        F.round(
            F.when(F.col("__l_tot") <= 0, F.lit(0.0)).otherwise(
                (F.col("__l_tot") - F.col("__l_uniq"))
                / F.col("__l_tot").cast("double")
            ),
            6,
        ).alias("dup_line_frac"),
        F.round(_frac("__l_chars_dup", "__l_chars_all"), 6).alias(
            "dup_line_char_frac"
        ),
        F.round(
            F.when(F.col("__p_tot") <= 0, F.lit(0.0)).otherwise(
                (F.col("__p_tot") - F.col("__p_uniq"))
                / F.col("__p_tot").cast("double")
            ),
            6,
        ).alias("dup_para_frac"),
        F.round(_frac("__p_chars_dup", "__p_chars_all"), 6).alias(
            "dup_para_char_frac"
        ),
    ]
    d = F.greatest(F.col("__tok_chars"), F.lit(1)).cast("double")
    for n in top_ns:
        cols.append(
            F.round(F.col(f"__top{n}") / d, 6).alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        cols.append(
            F.round(F.least(F.lit(1.0), F.col(f"__dup{n}") / d), 6).alias(
                f"dup_{n}gram_char_frac"
            )
        )
    out = pre.select(*cols)

    keep = (
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("dup_para_frac") <= max_dup_para_frac)
        & (F.col("dup_para_char_frac") <= max_dup_para_char_frac)
    )
    for n in top_ns:
        keep = keep & (F.col(f"top_{n}gram_char_frac") <= top_ngram_max[n])
    for n in dup_ns:
        keep = keep & (F.col(f"dup_{n}gram_char_frac") <= dup_ngram_max[n])
    return out.withColumn("keep", keep)


def gopher_repetition_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    **thresholds,
) -> DataFrame:
    """Rows of ``df`` passing every repetition rule.

    Unlike :func:`gopher_filter` (pure scan expressions), the
    repetition metrics need per-document gram frequencies — a grouped
    aggregation — so this gate cannot ride the scan: it computes the
    flags frame and LEFT SEMI joins the keepers back on ``id_col``
    (ids only travel the join; AQE broadcasts the keeper side when the
    corpus shrinks enough). Run it AFTER the zero-shuffle gates so the
    expensive pass sees the smallest corpus."""
    flags = gopher_repetition_flags(df, id_col, text_col, **thresholds)
    keep_ids = flags.filter(F.col("keep")).select(id_col)
    return df.join(keep_ids, id_col, "left_semi")
