"""Byte-pair-encoding tokenizer: distributed training + Arrow apply.

Upgrades the corpus token accounting from the BPE-ish regex estimate
(``text.bpe_ish_token_count``) to a real learned BPE, structured the
way production tokenizer training actually scales:

- **Word counting is the corpus-scale stage** (one shuffle with
  map-side partial aggregation, top-V cap) — at 100 TB this is the
  only part that touches the data.
- **Merge learning runs on the bounded word-frequency table** (like
  every real BPE trainer: the corpus collapses to ``distinct word ->
  count`` and iterations never rescan the corpus). The table is
  capped at ``max_vocab_words`` so driver memory is bounded and the
  learned merges are deterministic (ties break lexicographically).
- **Application is map-only**: the merge ranks broadcast in the UDF
  closure; each Arrow batch tokenizes with the classic greedy
  lowest-rank merge loop (GPT-2's algorithm over characters). One
  kernel, :func:`_bpe_apply`, serves all six encoders: each passes
  its input column, its piece splitter and its piece encoder, and
  picks a count, the pieces or their ids.

The first training iteration (adjacent-pair counts over the word
table) is plain SQL — the oracle checks it cell-for-cell; the
iterative loop and the application are pinned by known-answer tests.

Two tokenizer families share this structure: the word-internal
character-level BPE (top of the module) and the production-faithful
**byte-level BPE** (GPT-2 family — regex pre-tokenization, 256-byte
alphabet in the byte-unicode rendering; see the byte-level section
below), whose applied segmentation the driver's oracle also replays
end-to-end via the hex-pair replace chain. Both replace-chain twins
share :func:`_symbol_counts`, both trainers share the counting tail
:func:`_top_words`, and both vocabularies number their merge
products with :func:`_add_merge_products`.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from .text import _col, normalize_text, tokens


def word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_vocab_words: int = 100_000,
) -> DataFrame:
    """Distinct normalized words with corpus counts, capped at the
    ``max_vocab_words`` most frequent (count desc, word asc — the
    deterministic training vocabulary)."""
    return _top_words(docs, tokens(normalize_text(text_col)), max_vocab_words)


def _top_words(docs: DataFrame, words: Column, max_vocab_words: int) -> DataFrame:
    """The counting tail of both trainers: every element of the
    ``words`` array column, counted over ``docs``, the most frequent
    ``max_vocab_words`` kept (count desc, word asc)."""
    toks = docs.select(F.explode(words).alias("word"))
    counts = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    return counts.orderBy(F.desc("cnt"), F.asc("word")).limit(
        int(max_vocab_words)
    )


def pair_counts_sql(word_counts_df: DataFrame) -> DataFrame:
    """Adjacent-character-pair counts over the word table — the FIRST
    BPE training iteration, as a pure Catalyst expression (this is
    what the oracle checks). Pair weight = word count; a word
    contributes every adjacent position."""
    pairs = word_counts_df.select(
        "cnt",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("word") - 1, F.lit(0))),
                lambda i: F.substring(F.col("word"), i, 2),
            )
        ).alias("pair"),
    ).where(F.length("pair") == 2)
    return pairs.groupBy("pair").agg(F.sum("cnt").alias("n"))


def learn_merges(
    word_counts_df: DataFrame,
    n_merges: int = 100,
) -> list[tuple[str, str]]:
    """Learn BPE merges from the (bounded, collected) word-frequency
    table. Classic algorithm: repeatedly merge the most frequent
    adjacent symbol pair; ties break on the lexicographically
    smallest pair so results are reproducible everywhere.

    Examples
    --------
        >>> corpus = spark.createDataFrame([("low low lower",)], ["text"])
        >>> learn_merges(word_counts(corpus), n_merges=2)
        [('l', 'o'), ('lo', 'w')]
    """
    freq: dict[tuple[str, ...], int] = {
        tuple(r["word"]): r["cnt"] for r in word_counts_df.collect()
    }
    return _learn_merges_from_freq(freq, n_merges)


def _learn_merges_from_freq(
    freq: dict[tuple[str, ...], int],
    n_merges: int,
) -> list[tuple[str, str]]:
    """Shared merge-learning loop over a symbol-sequence frequency
    table — used by both the character-level (:func:`learn_merges`)
    and byte-level (:func:`learn_merges_bytes`) trainers. The symbol
    alphabet is whatever the caller split words into."""
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pair_n: dict[tuple[str, str], int] = {}
        for syms, c in freq.items():
            for a, b in zip(syms, syms[1:]):
                pair_n[(a, b)] = pair_n.get((a, b), 0) + c
        if not pair_n:
            break
        max_n = max(pair_n.values())
        a, b = min(p for p, n in pair_n.items() if n == max_n)
        merges.append((a, b))
        merged = a + b
        new_freq: dict[tuple[str, ...], int] = {}
        for syms, c in freq.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_freq[key] = new_freq.get(key, 0) + c
        freq = new_freq
    return merges


def save_merges(merges: list[tuple[str, str]], path: str) -> None:
    """Write merges in the standard ``merges.txt`` text format
    (the GPT-2 / Hugging Face ``tokenizers`` interchange file):
    a ``#version`` header, then one space-separated pair per line in
    rank order. :func:`load_merges` round-trips it exactly."""
    with open(path, "w", encoding="utf-8") as f:
        f.write("#version: 0.2\n")
        for a, b in merges:
            f.write(f"{a} {b}\n")


def load_merges(path: str) -> list[tuple[str, str]]:
    """Parse the standard ``merges.txt`` format: optional ``#``
    header/comment lines and blank lines are skipped; every other
    line must be exactly ``left right`` (single space). Returns the
    rank-ordered merge list consumed by every apply kernel here
    (:func:`bpe_token_count`, :func:`bpe_encode`,
    :func:`bpe_word_symbol_counts`), so a tokenizer FROZEN elsewhere
    can be applied to the corpus — real pipelines apply a fixed
    public tokenizer far more often than they train one.

    Note on symbol space: the format is consumed verbatim — pair the
    file with the matching kernels. Word-internal character merges
    feed :func:`bpe_token_count` / :func:`bpe_encode`; GPT-2-family
    byte-level files (byte-to-unicode symbols, ``Ġ`` space marker)
    feed :func:`bpe_bytes_token_count` / :func:`bpe_bytes_encode` /
    :func:`bpe_bytes_encode_ids`, whose regex pre-tokenizer and byte
    alphabet match how those files were trained.
    """
    merges: list[tuple[str, str]] = []
    with open(path, encoding="utf-8") as f:
        for ln_no, ln in enumerate(f, start=1):
            ln = ln.rstrip("\n")
            if not ln.strip() or ln.startswith("#"):
                continue
            parts = ln.split(" ")
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"{path}:{ln_no}: expected 'left right', got {ln!r}"
                )
            merges.append((parts[0], parts[1]))
    return merges


def save_vocab(vocab: dict[str, int], path: str) -> None:
    """Write a piece→id mapping as standard ``vocab.json``."""
    import json

    with open(path, "w", encoding="utf-8") as f:
        json.dump(vocab, f, ensure_ascii=False, sort_keys=True)


def load_vocab(path: str) -> dict[str, int]:
    """Load a standard ``vocab.json`` piece→id mapping."""
    import json

    with open(path, encoding="utf-8") as f:
        vocab = json.load(f)
    if not isinstance(vocab, dict):
        raise ValueError(f"{path}: vocab.json must be an object")
    return {str(k): int(v) for k, v in vocab.items()}


def vocab_from_merges(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic piece→id table implied by a merge list: ids
    0..25 + digits for the base character alphabet that appears in
    the merges, then one id per merge product in rank order — the
    convention real BPE vocabularies follow (alphabet first, merge
    products in learning order)."""
    alphabet = sorted({c for pair in merges for s in pair for c in s})
    return _add_merge_products({c: i for i, c in enumerate(alphabet)}, merges)


def _add_merge_products(
    vocab: dict[str, int], merges: list[tuple[str, str]]
) -> dict[str, int]:
    """Give each new merge product the next id, in rank order, after
    a base alphabet whose ids are ``0..len(vocab) - 1``."""
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def _make_encoder(merges: list[tuple[str, str]]):
    """Greedy lowest-rank merge loop (GPT-2 style), built as a local
    closure so cloudpickle ships it and its rank table BY VALUE."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode_word(word: str) -> list[str]:
        syms = list(word)
        while len(syms) > 1:
            best_rank = None
            best_i = -1
            for i, (a, b) in enumerate(zip(syms, syms[1:])):
                r = ranks.get((a, b))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank = r
                    best_i = i
            if best_rank is None:
                break
            syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
        return syms

    return encode_word


def _special_splitter(special_tokens):
    """Build a driver-side splitter spec for ATOMIC special tokens
    (``<|endoftext|>`` et al., r9): returns the alternation pattern
    (longest-first so overlapping literals resolve the way HF /
    tiktoken do) or None. Specials are matched BEFORE the GPT-2
    pre-tokenizer runs — BPE merges never cross them, and the
    literals never reach the byte alphabet."""
    if not special_tokens:
        return None
    import re as _re

    toks = sorted(special_tokens, key=len, reverse=True)
    return "(" + "|".join(_re.escape(t) for t in toks) + ")"


def _segments(text: str, spec_re) -> list[tuple[str, bool]]:
    """Split text into (segment, is_special) runs; plain segments
    still carry their original whitespace for the pre-tokenizer."""
    if spec_re is None:
        return [(text, False)]
    parts = spec_re.split(text)
    return [(p, i % 2 == 1) for i, p in enumerate(parts) if p]


def _bpe_apply(
    text: Column,
    split: Callable[[str], list[str]],
    encode: Callable[[str], list[str]],
    out: str,
    vocab: dict[str, int] | None = None,
    unk_id: int | None = None,
    specials: list[str] | dict[str, int] | None = None,
) -> Column:
    """The one Arrow kernel behind every BPE encoder, map-only.

    A null row stays null. Otherwise the row splits into atomic
    ``specials`` (matched longest-first, merges never cross them) and
    plain segments; ``split`` cuts a plain segment into pieces, and
    ``encode`` runs once per distinct piece per batch. ``out`` picks
    the row's value: ``long`` counts tokens (a special counts 1),
    ``array<string>`` lists them (a special is its literal), and
    ``array<long>`` maps them through ``vocab``, ``unk_id`` when
    missing (a special through the ``specials`` dict)."""
    spec_pattern = _special_splitter(specials)
    value, special = {
        "long": (len, lambda s: 1),
        "array<string>": (list, lambda s: [s]),
        "array<long>": (
            lambda pieces: [vocab.get(p, unk_id) for p in pieces],
            lambda s: [specials[s]],
        ),
    }[out]

    @pandas_udf(out)
    def _apply(texts: pd.Series) -> pd.Series:
        import re as _re

        spec = _re.compile(spec_pattern) if spec_pattern else None
        cache: dict[str, int | list] = {}
        rows = []
        for t in texts:
            if t is None:
                rows.append(None)
                continue
            acc = 0 if out == "long" else []
            for seg, is_special in _segments(t, spec):
                if is_special:
                    acc += special(seg)
                    continue
                for w in split(seg):
                    hit = cache.get(w)
                    if hit is None:
                        hit = cache[w] = value(encode(w))
                    acc += hit
            rows.append(acc)
        return pd.Series(rows, dtype="object")

    return _apply(text)


def _word_split(text: str) -> list[str]:
    """The word-level pieces of a row: whitespace-split, lowercased."""
    return [w.lower() for w in text.split()]


def _words(text: Column | str) -> Column:
    """The word-level kernels' input: the normalized, lowercased text."""
    return F.lower(normalize_text(_col(text)))


def _symbol_counts(
    docs: DataFrame,
    words: Column,
    merges: list[tuple[str, str]],
    text_col: str,
    id_col: str,
    hex_bytes: bool,
) -> DataFrame:
    """The replace chain behind both ``*_symbol_counts`` twins: each
    element of the ``words`` array column becomes its symbols, two
    spaces apart with one at each end; each merge is one exact
    ``replace``; a word's token count is its spaces / 2, summed per
    document into ``n_bpe``. A symbol is one character, or with
    ``hex_bytes`` one hex pair of the word's UTF-8 bytes (the merges
    are rendered in hex to match)."""
    from ..plans import ensure_min_parallelism

    # The per-row work is a len(merges)-deep string-replace chain over
    # every word — expensive-per-row CPU that runs serially on an
    # under-partitioned scan (profiled: one 1.15-1.5 s single-task
    # stage at sf0.1), the §2.5 regime where the widening guard is a
    # measured win (unlike cheap JVM map stages, where it was measured
    # a loss and rejected).
    exploded = ensure_min_parallelism(
        docs.select(F.col(id_col), F.col(text_col)), key=id_col
    ).select(F.col(id_col), F.explode(words).alias("__w"))
    w = F.col("__w")
    if hex_bytes:
        w, one = F.hex(F.encode(w, "utf-8")), "(..)"
        merges = [(_symbols_to_hex(a), _symbols_to_hex(b)) for a, b in merges]
    else:
        one = "(.)"
    # "low" -> " l  o  w " (two spaces BETWEEN symbols, one at ends)
    spaced = F.concat(
        F.lit(" "), F.rtrim(F.regexp_replace(w, one, "$1  ")), F.lit(" ")
    )
    for a, b in merges:
        spaced = F.replace(spaced, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    # invariant: k symbols -> exactly 2k spaces (2(k-1) between + 2 pad)
    n_sym = (
        F.length(spaced)
        - F.length(F.replace(spaced, F.lit(" "), F.lit("")))
    ) / 2
    return (
        exploded.select(id_col, n_sym.cast("long").alias("__n"))
        .groupBy(id_col)
        .agg(F.sum("__n").cast("long").alias("n_bpe"))
    )


def bpe_word_symbol_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc BPE token counts via the engine-portable spaced-symbol
    replace chain — the oracle-parity twin of :func:`bpe_token_count`.

    Each word becomes its characters joined by **two** spaces, padded
    with one space at each end (``"low"`` → ``" l  o  w "``). Every
    merge (in rank order) is one exact string replace of ``" a  b "``
    with ``" ab "``. The double-space delimiter makes this a true
    merge-all pass: with single spaces, consecutive occurrences share
    the delimiter (``banana`` + merge ``(a,n)`` → the second ``a n``
    is skipped by non-overlapping replace); with double spaces each
    occurrence consumes only one of the two separating spaces, so
    adjacent matches never overlap, and the replacement ``" ab "``
    restores exactly the invariant (the un-consumed neighbor space +
    the replacement's own space = two). A merge list of length k
    inlines as k codegen'd ``replace`` calls. The invariant keeps
    symbols separated by exactly two spaces with one at each end, so
    token count per word = (number of spaces) / 2. Any SQL dialect
    can express the same chain, so the driver's oracle checks the
    application cell-for-cell; pytest pins this path equal to the
    greedy-rank Arrow kernel on real corpora AND on the
    repeat-adjacent ``banana`` fixture that breaks the single-space
    scheme.

    Sequential-by-rank application and greedy lowest-rank are the two
    standard BPE application orders (Sennrich vs GPT-2); for merge
    lists learned by :func:`learn_merges` they agree (tested), since
    each learning iteration exhaustively merged its pair.
    """
    return _symbol_counts(
        docs,
        tokens(normalize_text(text_col)),
        merges,
        text_col,
        id_col,
        hex_bytes=False,
    )


def bpe_token_count(
    text: Column | str,
    merges: list[tuple[str, str]],
) -> Column:
    """Per-row BPE token count under the learned merges — an
    Arrow-batched kernel (the merge loop is inherently sequential per
    word; the ranks dict broadcasts in the closure). Map-only.

    Examples
    --------
        >>> df = spark.createDataFrame([(1, "low lower")], ["doc_id", "text"])
        >>> merges = [("l", "o"), ("lo", "w")]  # "low" -> one token
        >>> df.select(bpe_token_count("text", merges).alias("n")).collect()
        [Row(n=4)]
    """
    return _bpe_apply(_words(text), _word_split, _make_encoder(merges), "long")


def bpe_encode_ids(
    text: Column | str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    unk_id: int | None = None,
) -> Column:
    """Per-row BPE token ids (``array<long>``) under a frozen
    tokenizer: the merge list (``merges.txt``) drives the encoding,
    the ``vocab.json`` mapping assigns ids. Pieces missing from the
    vocabulary become ``unk_id`` (or null elements when unset). Same
    Arrow kernel shape as :func:`bpe_encode`; both side tables ride
    in the closure (bounded: a real vocab is tens of thousands of
    rows)."""
    return _bpe_apply(
        _words(text),
        _word_split,
        _make_encoder(merges),
        "array<long>",
        vocab=vocab,
        unk_id=unk_id,
    )


def bpe_encode(
    text: Column | str,
    merges: list[tuple[str, str]],
) -> Column:
    """Per-row BPE pieces (``array<string>``) under the learned
    merges — same kernel shape as :func:`bpe_token_count`."""
    return _bpe_apply(
        _words(text), _word_split, _make_encoder(merges), "array<string>"
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 style): regex pre-tokenization + byte alphabet
# ---------------------------------------------------------------------------
#
# Production LLM tokenizers (GPT-2 family and descendants) are
# byte-level: the text is first split by a published regex
# pre-tokenizer, each pre-token becomes its UTF-8 bytes, and merges
# are learned/applied over a 256-symbol byte alphabet rendered as
# printable unicode characters (the well-known ``bytes_to_unicode``
# table: ' ' -> 'Ġ', '\n' -> 'Ċ', ...). This section adds that exact
# pipeline on the same three-tier structure as the word-level code
# above: one corpus shuffle for pre-token counts, bounded driver-side
# merge learning, map-only Arrow application — plus an
# engine-portable twin (hex-pair replace chain) so the driver's
# DuckDB oracle can replay the applied segmentation cell-for-cell.
#
# Whitespace fidelity note: the three regex engines involved disagree
# on ``\s`` (Python `regex` = full Unicode, Java = ASCII+\x0B, RE2 =
# ASCII without \x0B), so every pattern here spells the whitespace
# class explicitly as ``[ \t\n\x0B\f\r]`` (Java's set). Unicode
# spaces (NBSP etc.) therefore land in the "other" category — they
# are not \s to Java or RE2 either, so all engines agree.

_WS = r" \t\n\x0B\f\r"

#: The GPT-2 pre-tokenizer pattern (public: the GPT-2 release's
#: ``encoder.py``), with ``\s``/``\S`` spelled out per the note
#: above. Needs lookahead -> Python `regex` / Java only.
GPT2_SPLIT_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    rf"| ?\p{{L}}+| ?\p{{N}}+| ?[^{_WS}\p{{L}}\p{{N}}]+"
    rf"|[{_WS}]+(?![^{_WS}])|[{_WS}]+"
)

#: Lookahead-free variant, safe for RE2 (DuckDB) and Java alike.
#: On its own it differs from GPT2_SPLIT_PATTERN only at whitespace
#: runs of length >= 2 followed by non-whitespace: the true pattern
#: splits the run before its last character (which then prefixes the
#: next token if it is a plain space), while this one swallows the
#: whole run. :data:`_SENTINEL_PATTERN` pre-inserts a NUL between the
#: run's last two characters, restoring exact equivalence — pinned
#: against the true pattern by tests/test_bpe_bytes.py (fixtures +
#: hypothesis).
GPT2_SPLIT_PORTABLE = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    rf"| ?\p{{L}}+| ?\p{{N}}+| ?[^{_WS}\p{{L}}\p{{N}}]+"
    rf"|[{_WS}]+"
)

#: Matches the last two whitespace characters of a run that is
#: followed by non-whitespace; replacement "$1\x00$2" splits there.
_SENTINEL_PATTERN = rf"([{_WS}])([{_WS}][^{_WS}])"


def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte -> printable-unicode table (public knowledge,
    from the GPT-2 release): printable latin bytes map to themselves,
    the rest to U+0100.. in order. A bijection over all 256 bytes, so
    any byte string round-trips."""
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("\xa1"), ord("\xac") + 1))
        + list(range(ord("\xae"), ord("\xff") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


_B2U = bytes_to_unicode()
_U2B = {u: b for b, u in _B2U.items()}


def unicode_to_bytes() -> dict[str, int]:
    """Inverse of :func:`bytes_to_unicode`."""
    return dict(_U2B)


def _to_byte_symbols(pre_token: str) -> str:
    """Pre-token -> byte-level symbol string (one char per UTF-8
    byte, in the GPT-2 rendering: ``" low"`` -> ``"Ġlow"``)."""
    return "".join(_B2U[b] for b in pre_token.encode("utf-8"))


def _symbols_to_hex(symbols: str) -> str:
    """Byte-unicode symbol string -> uppercase hex of the underlying
    bytes (``"Ġl"`` -> ``"206C"``) — the symbol space the portable
    replace chain works in (both Spark and DuckDB can ``hex(encode())``
    a string identically)."""
    return bytes(_U2B[ch] for ch in symbols).hex().upper()


def gpt2_pretokenize(text: str) -> list[str]:
    """Reference pre-tokenizer: the true GPT-2 pattern via the
    `regex` module. NUL bytes are stripped first (they are the
    sentinel of the portable path; documented deviation — NUL never
    appears in real text corpora)."""
    import regex

    pat = getattr(gpt2_pretokenize, "_pat", None)
    if pat is None:
        pat = regex.compile(GPT2_SPLIT_PATTERN)
        gpt2_pretokenize._pat = pat
    return pat.findall(text.replace("\x00", ""))


def pretokens(text: Column | str) -> Column:
    """GPT-2 pre-tokens as ``array<string>``, computed entirely
    JVM-side (whole-stage codegen, no Python): strip NULs, insert a
    NUL sentinel before each whitespace run's last character
    (:data:`_SENTINEL_PATTERN`), split on the sentinel, and run the
    lookahead-free pattern per segment. Tests pin this equal to
    :func:`gpt2_pretokenize` on fixtures, fuzzed strings, and the
    documents corpus."""
    stripped = F.replace(_col(text), F.lit("\x00"), F.lit(""))
    marked = F.regexp_replace(stripped, _SENTINEL_PATTERN, "$1\x00$2")
    segs = F.split(marked, "\x00")
    return F.flatten(
        F.transform(
            segs,
            lambda s: F.regexp_extract_all(
                s, F.lit(GPT2_SPLIT_PORTABLE), F.lit(0)
            ),
        )
    )


def byte_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    max_vocab_words: int = 100_000,
) -> DataFrame:
    """Distinct pre-tokens with corpus counts, capped at the most
    frequent ``max_vocab_words`` (count desc, token asc). The
    corpus-scale stage of byte-level training: one shuffle with
    map-side partial aggregation; pre-tokens keep case and their
    leading space (GPT-2 does not normalize)."""
    return _top_words(docs, pretokens(text_col), max_vocab_words)


def learn_merges_bytes(
    word_counts_df: DataFrame,
    n_merges: int = 100,
) -> list[tuple[str, str]]:
    """Learn byte-level merges from the (bounded, collected)
    pre-token frequency table. Each pre-token becomes its UTF-8
    bytes in the GPT-2 byte-unicode rendering, then the classic
    merge loop runs over that symbol space — so the returned pairs
    are exactly what a GPT-2-family ``merges.txt`` holds
    (:func:`save_merges` / :func:`load_merges` interoperate)."""
    freq: dict[tuple[str, ...], int] = {}
    for r in word_counts_df.collect():
        key = tuple(_to_byte_symbols(r["word"]))
        freq[key] = freq.get(key, 0) + r["cnt"]
    return _learn_merges_from_freq(freq, n_merges)


def byte_vocab_from_merges(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Piece -> id table in the GPT-2 convention for byte-level
    tokenizers: ids 0..255 for the full byte alphabet (in
    byte-value order, rendered via :func:`bytes_to_unicode`), then
    one id per merge product in rank order."""
    return _add_merge_products({_B2U[b]: b for b in range(256)}, merges)


def _make_byte_encoder(merges: list[tuple[str, str]]):
    """Per-pre-token byte-level encoder: the pre-token's UTF-8 bytes
    in the GPT-2 rendering, then the greedy lowest-rank loop."""
    encode_symbols = _make_encoder(merges)

    def encode_pre_token(tok: str) -> list[str]:
        return encode_symbols(_to_byte_symbols(tok))

    return encode_pre_token


def bpe_bytes_token_count(
    text: Column | str,
    merges: list[tuple[str, str]],
    special_tokens: list[str] | None = None,
) -> Column:
    """Per-row byte-level BPE token count under the learned merges —
    Arrow-batched, map-only; the pre-tokenizer regex and merge ranks
    ride in the closure. ``special_tokens`` (r9) are atomic: matched
    longest-first before pre-tokenization, each counting exactly one
    token, with merges never crossing the boundary. Pinned equal to
    the portable :func:`bpe_bytes_symbol_counts` twin by tests.

    Examples
    --------
        >>> df = spark.createDataFrame([(1, "low low")], ["doc_id", "text"])
        >>> m = [("l", "o"), ("lo", "w"), ("Ġ", "low")]
        >>> df.select(bpe_bytes_token_count("text", m).alias("n")).collect()
        [Row(n=2)]
    """
    return _bpe_apply(
        _col(text),
        gpt2_pretokenize,
        _make_byte_encoder(merges),
        "long",
        specials=special_tokens,
    )


def bpe_bytes_encode(
    text: Column | str,
    merges: list[tuple[str, str]],
    special_tokens: list[str] | None = None,
) -> Column:
    """Per-row byte-level BPE pieces (``array<string>``, byte-unicode
    rendering — GPT-2's vocab key space). ``special_tokens`` (r9)
    surface as their own literal pieces, atomic and merge-proof."""
    return _bpe_apply(
        _col(text),
        gpt2_pretokenize,
        _make_byte_encoder(merges),
        "array<string>",
        specials=special_tokens,
    )


def bpe_bytes_encode_ids(
    text: Column | str,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    unk_id: int | None = None,
    special_tokens: dict[str, int] | None = None,
) -> Column:
    """Per-row byte-level token ids (``array<long>``) under a frozen
    GPT-2-family tokenizer: ``merges.txt`` drives the segmentation,
    ``vocab.json`` assigns ids (byte-unicode piece keys). Unknown
    pieces become ``unk_id`` (null elements when unset) — with a
    GPT-2-convention vocab (:func:`byte_vocab_from_merges`) every
    piece resolves, by construction of the byte alphabet.
    ``special_tokens`` (r9) maps atomic literals straight to their
    ids (``{"<|endoftext|>": 50256}``), matched longest-first before
    pre-tokenization so no merge ever crosses a document boundary."""
    return _bpe_apply(
        _col(text),
        gpt2_pretokenize,
        _make_byte_encoder(merges),
        "array<long>",
        vocab=vocab,
        unk_id=unk_id,
        specials=special_tokens,
    )


def bpe_bytes_symbol_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc byte-level BPE token counts via an engine-portable
    plan — the oracle-parity twin of :func:`bpe_bytes_token_count`.

    Pre-tokenization is the sentinel + lookahead-free pattern of
    :func:`pretokens`; each pre-token then becomes the uppercase hex
    of its UTF-8 bytes (``hex(encode(tok))`` — identical in Spark and
    DuckDB), so one SYMBOL = one HEX PAIR and the word-level module's
    double-spaced replace-chain trick applies unchanged: two spaces
    between symbols, one at each end, each merge is one exact string
    replace, token count = spaces / 2 (see
    :func:`bpe_word_symbol_counts` for why double spacing makes each
    replace a true merge-all pass). Everything stays JVM-side."""
    return _symbol_counts(
        docs, pretokens(text_col), merges, text_col, id_col, hex_bytes=True
    )
