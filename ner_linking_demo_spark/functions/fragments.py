"""M1: subword tokenization + fixed-length fragment packing.

Reference semantics (`/root/reference/server/ner/src/utils/ner/
pre_process.py:753-811`, greedy path `mentions_detection.py:24`):
words -> subtokens (flat, with per-subtoken word ids and char offsets) ->
chunks of ``max_seq_len`` subtokens (words MAY split across fragments in
the greedy path) -> +CLS/SEP and pad to ``seq_len`` at encode
(`pre_process.py:156-193`; SEQ_LEN=128, effective 126).

The subword tokenizer itself is pluggable (the real one is a RoBERTa BPE
whose weights are missing upstream); the deterministic surrogate splits a
word into fixed-width chunks. The *packing and padding mechanics* are the
reproduced operator — they are what the real-model NER UDF will feed, and
their invariants (the reference's asserts at pre_process.py:781-788,
797-800, 1034-1037) are property-tested.
"""

from __future__ import annotations

from dataclasses import dataclass

from .tokenization import words_with_offsets

CLS, SEP, PAD = "<s>", "</s>", "<pad>"


def surrogate_subtokenize(word: str, width: int = 4) -> list[str]:
    """Deterministic BPE stand-in: fixed-width chunks, continuation pieces
    prefixed (RoBERTa-style visibility of word boundaries)."""
    pieces = [word[i : i + width] for i in range(0, len(word), width)]
    return [pieces[0]] + [f"##{p}" for p in pieces[1:]]


@dataclass
class Fragment:
    subtokens: list[str]  # padded to seq_len, with CLS/SEP
    word_ids: list[int]  # -1 for special/pad positions
    offsets: list[tuple[int, int]]  # (-1,-1) for special/pad
    attention: list[int]


def fragment_document(
    text: str,
    seq_len: int = 128,
    subtokenizer=surrogate_subtokenize,
    ss: list[tuple[int, int]] | None = None,
) -> list[Fragment]:
    """text -> padded fragments (the NER UDF's per-document tensor shape:
    [n_fragments, seq_len]).

    ``ss``: optional sentence-split (start, end) char pairs
    (sources/sentence_split.py). When given, fragments NEVER cross a
    sentence boundary — the reference's SS-aware packing
    (`pre_process.py:814-877`): the flat subtoken stream is cut at each
    sentence end (a subtoken belongs to the first sentence whose end
    exceeds its word start), then each sentence packs into seq_len
    chunks independently. The flat subtoken content is identical to the
    greedy path (tested); only the chunk boundaries differ."""
    max_eff = seq_len - 2  # room for CLS/SEP
    flat_sub: list[str] = []
    flat_wid: list[int] = []
    flat_off: list[tuple[int, int]] = []
    for wid, (word, start, end) in enumerate(
        words_with_offsets(text)
    ):
        for piece in subtokenizer(word):
            flat_sub.append(piece)
            flat_wid.append(wid)
            flat_off.append((start, end))

    if ss is None:
        cut_ranges = [(i, min(i + max_eff, len(flat_sub)))
                      for i in range(0, max(len(flat_sub), 1), max_eff)]
    else:
        # sentence cuts first (reference: advance while subtoken word
        # start < sentence end), then seq_len chunks within each sentence
        cut_ranges = []
        start_tok = 0
        for _, ss_end in sorted(ss):
            last_tok = start_tok
            while last_tok < len(flat_sub) and flat_off[last_tok][0] < ss_end:
                last_tok += 1
            for i in range(start_tok, last_tok, max_eff):
                cut_ranges.append((i, min(i + max_eff, last_tok)))
            start_tok = last_tok
        if start_tok < len(flat_sub):  # tail after the last sentence end
            for i in range(start_tok, len(flat_sub), max_eff):
                cut_ranges.append((i, min(i + max_eff, len(flat_sub))))
        if not cut_ranges:
            cut_ranges = [(0, 0)]

    frags: list[Fragment] = []
    for i, j in cut_ranges:
        chunk = flat_sub[i:j]
        wids = flat_wid[i:j]
        offs = flat_off[i:j]
        n_pad = max_eff - len(chunk)
        frags.append(
            Fragment(
                subtokens=[CLS] + chunk + [SEP] + [PAD] * n_pad,
                word_ids=[-1] + wids + [-1] * (n_pad + 1),
                offsets=[(-1, -1)] + offs + [(-1, -1)] * (n_pad + 1),
                attention=[1] * (len(chunk) + 2) + [0] * n_pad,
            )
        )
    return frags


def fasttext_subtokenize(word: str, width: int = 0) -> list[str]:
    """FastText-style tokenizer (reference `pre_process.py:216-274`,
    ``FastTextTokenizer.tokenize``): the word is kept whole — no subword
    split. Plugs into fragment_document's ``subtokenizer`` seat; with it,
    word_ids are 1:1 with subtokens and the A3 product degenerates to the
    single piece's probabilities, exactly as a word-embedding model
    behaves."""
    return [word]
