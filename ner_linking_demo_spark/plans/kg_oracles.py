"""DuckDB oracle SQL builders for the kg_* flagship chain.

The round-1 gap: ``kg_detect_mentions`` / ``kg_link_mentions`` /
``kg_triples_e2e`` were rows-only. They ARE SQL-expressible on the harness
data because of two verified properties of ``/root/testdata`` documents
(asserted in tests/test_kg_oracles.py):

1. **Tokenization is a prefix-sum.** Harness docs are lowercase,
   single-space-joined, trimmed, ``[a-z0-9 ]``-only word salads, so the
   engine's offset tokenizer (functions/tokenization.py) degenerates to
   whitespace split with ``start_i = sum(len(tok_j)+1, j<i)``.
2. **The matcher's scan is a pure join.** With the harness gazetteer
   (plans/entry_queries._harness_gazetteer) no term starts with a token
   that occurs at a non-start position of any other same-label term, and
   no term is a token-prefix of another — so longest-match-first and
   non-overlap-consume are both no-ops and "all (position, term) matches"
   is exactly the engine's output.

Linking is oracled the way the round-1 verdict prescribed: the 12 query
(raw-span) and 12 index (decorated-term) HashEmbedder vectors are emitted
as SQL literals (exact float32 values, which are exactly representable as
doubles); DuckDB then performs the inner-product scoring, the
score-desc/ordinal-asc ranking, and the k-distinct selection itself. The
36 resulting scores are fixed functions of the gazetteer (independent of
sf) and were checked to sit > 2e-7 away from every 5-decimal rounding
boundary, so float32 (engine) vs float64 (oracle) round identically.

Triples: the harness alias graph is 1 code + 1 term per component, and
connected_components labels a component by its lexicographic min node, so
``entity_id = 'c:' || code`` (operators/canonicalize.py:83-97).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _fmt_vec(v: np.ndarray) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


def _terms_values(gaz_pdf: pd.DataFrame) -> tuple[str, int]:
    """(label, n, t1..tN, term, code) VALUES rows; returns (sql, max_n)."""
    toks_rows = []
    for label, term, code in zip(
        gaz_pdf["label"], gaz_pdf["term"], gaz_pdf["code"].astype(str)
    ):
        toks = term.split()
        toks_rows.append((str(label).upper(), toks, term, code))
    max_n = max(len(t) for _, t, _, _ in toks_rows)
    rows = []
    for label, toks, term, code in toks_rows:
        tcols = ", ".join(
            f"'{toks[i]}'" if i < len(toks) else "NULL" for i in range(max_n)
        )
        rows.append(f"('{label}', {len(toks)}, {tcols}, '{term}', '{code}')")
    cols = ", ".join(f"t{i+1}" for i in range(max_n))
    sql = (
        f"terms(label, n, {cols}, term, code) AS (VALUES\n  "
        + ",\n  ".join(rows)
        + ")"
    )
    return sql, max_n


def _otok_ctes(where: str = "") -> str:
    """documents -> (url, pos, w, start) offset tokens — valid because the
    harness docs are single-space-joined trimmed word salads (module
    docstring precondition 1)."""
    return f"""docs AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url, text FROM documents {where}
),
tok AS (
  SELECT url,
         unnest(regexp_extract_all(text, '\\S+')) AS w,
         unnest(generate_series(1, len(regexp_extract_all(text, '\\S+')))) AS pos
  FROM docs
),
otok AS (
  SELECT url, pos, w,
         CAST(COALESCE(SUM(length(w) + 1) OVER (
             PARTITION BY url ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS start
  FROM tok
)"""


def _mentions_ctes(gaz_pdf: pd.DataFrame, where: str = "") -> str:
    """Shared WITH-clause body: documents -> offset tokens -> mentions."""
    terms_sql, max_n = _terms_values(gaz_pdf)
    leads = []
    conds = []
    end_cases = []
    for i in range(2, max_n + 1):
        leads.append(
            f"lead(w, {i-1}) OVER (PARTITION BY url ORDER BY pos) AS w{i},\n"
            f"         lead(start + CAST(length(w) AS INT), {i-1}) "
            f"OVER (PARTITION BY url ORDER BY pos) AS e{i}"
        )
        conds.append(f"AND (t.n < {i} OR s.w{i} = t.t{i})")
        end_cases.append(f"WHEN {i} THEN s.e{i}")
    lead_sql = (",\n         ".join(leads) + ",") if leads else ""
    cond_sql = "\n     ".join(conds)
    end_sql = " ".join(end_cases)
    return f"""{_otok_ctes(where)},
seq AS (
  SELECT url, pos, w, start,
         {lead_sql}
         start + CAST(length(w) AS INT) AS e1
  FROM otok
),
{terms_sql},
mentions AS (
  SELECT s.url, t.label, s.start,
         CASE t.n WHEN 1 THEN s.e1 {end_sql} END AS "end",
         t.term AS span
  FROM seq s JOIN terms t
    ON s.w = t.t1
     {cond_sql}
)"""


def detect_mentions_sql(gaz_pdf: pd.DataFrame) -> str:
    return f"""
    WITH {_mentions_ctes(gaz_pdf)}
    SELECT url, label, start, "end", span FROM mentions
    """


def _vector_ctes(gaz_pdf: pd.DataFrame, k: int = 3) -> str:
    """qv (raw-span query vectors) + iv (decorated index-term vectors)."""
    from ..functions.embedder import HashEmbedder, l2_normalize
    from ..operators.linking import build_indexes

    emb = HashEmbedder()
    qrows = []
    for label, term in zip(gaz_pdf["label"], gaz_pdf["term"]):
        v = l2_normalize(emb.encode([term]))[0]
        qrows.append(f"('{str(label).upper()}', '{term}', {_fmt_vec(v)})")
    irows = []
    for label_u, idx in sorted(build_indexes(gaz_pdf, k=k).items()):
        for ordinal, (code, term) in enumerate(zip(idx.codes, idx.terms)):
            irows.append(
                f"('{label_u}', {ordinal}, '{code}', '{term}', "
                f"{_fmt_vec(idx.matrix[ordinal])})"
            )
    return (
        "qv(label, term, v) AS (VALUES\n  " + ",\n  ".join(qrows) + "),\n"
        "iv(label, ord, code, term, v) AS (VALUES\n  "
        + ",\n  ".join(irows) + ")"
    )


def _ranked_ctes(gaz_pdf: pd.DataFrame, k: int = 3, where: str = "") -> str:
    """mentions x index scored + ranked (score desc, ordinal asc).

    The harness gazetteer has one synonym per code, so max_n_texts == k
    and the k-distinct-codes scan (W3) reduces to top-k rows.
    """
    return f"""{_mentions_ctes(gaz_pdf, where)},
{_vector_ctes(gaz_pdf, k)},
scored AS (
  SELECT m.url, m.start, m."end", m.label, m.span, i.code, i.term, i.ord,
         list_dot_product(q.v, i.v) AS score
  FROM mentions m
  JOIN qv q ON q.label = m.label AND q.term = m.span
  JOIN iv i ON i.label = m.label
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                               ORDER BY score DESC, ord ASC) AS rk
  FROM scored
)"""


def link_mentions_sql(gaz_pdf: pd.DataFrame, k: int = 3) -> str:
    return f"""
    WITH {_ranked_ctes(gaz_pdf, k)}
    SELECT url, start, "end", label, span,
           '[' || string_agg('"' || code || '"', ',' ORDER BY rk) || ']'
             AS codes_json
    FROM ranked WHERE rk <= {k}
    GROUP BY url, start, "end", label, span
    """


def triples_sql(gaz_pdf: pd.DataFrame, k: int = 3) -> str:
    return f"""
    WITH {_ranked_ctes(gaz_pdf, k)}
    SELECT url AS subj, 'HAS_' || label AS pred, 'c:' || code AS obj, code,
           CAST(rk - 1 AS INT) AS rank, start, "end", span,
           ROUND(score, 5) AS score_r
    FROM ranked WHERE rk <= {k}
    """


def _gaz_values(gaz_pdf: pd.DataFrame) -> str:
    """gazt(label, ord, term, code): ordinal = row position within label
    (the generator indexes keep gazetteer row order — candidates.py)."""
    rows, counters = [], {}
    for label, term, code in zip(
        gaz_pdf["label"], gaz_pdf["term"], gaz_pdf["code"].astype(str)
    ):
        lu = str(label).upper()
        o = counters.get(lu, 0)
        counters[lu] = o + 1
        rows.append(f"('{lu}', {o}, '{term}', '{code}')")
    return "gazt(label, ord, term, code) AS (VALUES\n  " + ",\n  ".join(rows) + ")"


# Shared candidate-generator index statistics (tokens are whitespace splits
# of the raw gazetteer terms; harness terms contain no punctuation so the
# engine tokenizers — offset tokenizer for BM25, \w\w+ analyzer for TF-IDF —
# both degenerate to string_split).
_GEN_STATS = """
gtok AS (SELECT label, ord, term, code,
                unnest(string_split(term, ' ')) AS t
         FROM gazt),
tf AS (SELECT label, ord, t, COUNT(*)::DOUBLE AS tf
       FROM gtok GROUP BY label, ord, t),
dl AS (SELECT label, ord, COUNT(*)::DOUBLE AS len FROM gtok GROUP BY label, ord),
ad AS (SELECT label, AVG(len) AS avgdl FROM dl GROUP BY label),
nn AS (SELECT label, COUNT(*)::DOUBLE AS n FROM gazt GROUP BY label),
dfq AS (SELECT label, t, COUNT(DISTINCT ord)::DOUBLE AS df
        FROM gtok GROUP BY label, t)
"""


def bm25_sql(gaz_pdf: pd.DataFrame, k: int = 5, where: str = "") -> str:
    """rank_bm25 BM25Okapi semantics (k1=1.5, b=0.75, epsilon=0.25 idf
    floor, top-k sum normalization, ties at higher ordinal
    first) — see operators/candidates.py docstring for the provenance."""
    return f"""
    WITH {_mentions_ctes(gaz_pdf, where)},
    {_gaz_values(gaz_pdf)},
    {_GEN_STATS},
    idf0 AS (SELECT d.label, d.t, ln(n.n - d.df + 0.5) - ln(d.df + 0.5) AS v
             FROM dfq d JOIN nn n USING (label)),
    ai AS (SELECT label, AVG(v) AS av FROM idf0 GROUP BY label),
    idf AS (SELECT i.label, i.t,
                   CASE WHEN i.v < 0 THEN 0.25 * a.av ELSE i.v END AS idf
            FROM idf0 i JOIN ai a USING (label)),
    qtok AS (SELECT url, start, "end", label, span,
                    unnest(string_split(span, ' ')) AS t
             FROM mentions),
    contrib AS (
      SELECT q.url, q.start, q."end", q.label, tf.ord,
             SUM(idf.idf * tf.tf * 2.5
                 / (tf.tf + 1.5 * (0.25 + 0.75 * dl.len / ad.avgdl))) AS s
      FROM qtok q
      JOIN tf ON tf.label = q.label AND tf.t = q.t
      JOIN dl ON dl.label = tf.label AND dl.ord = tf.ord
      JOIN ad ON ad.label = q.label
      JOIN idf ON idf.label = q.label AND idf.t = q.t
      GROUP BY q.url, q.start, q."end", q.label, tf.ord
    ),
    allsc AS (
      SELECT m.url, m.start, m."end", m.label, g.ord, g.term, g.code,
             COALESCE(c.s, 0.0) AS score
      FROM mentions m
      JOIN gazt g ON g.label = m.label
      LEFT JOIN contrib c ON c.url = m.url AND c.start = m.start
        AND c."end" = m."end" AND c.label = m.label AND c.ord = g.ord
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                                   ORDER BY score DESC, ord DESC) AS rk
      FROM allsc
    ),
    topk AS (SELECT * FROM ranked WHERE rk <= {k}),
    sums AS (SELECT url, start, "end", label, SUM(score) AS s
             FROM topk GROUP BY url, start, "end", label)
    SELECT t.url, t.start, t."end", t.label, CAST(t.rk - 1 AS INT) AS rank,
           t.term, t.code,
           ROUND(t.score / (CASE WHEN s.s > 0 THEN s.s ELSE 1.0 END), 5)
             AS score_r
    FROM topk t JOIN sums s ON s.url = t.url AND s.start = t.start
      AND s."end" = t."end" AND s.label = t.label
    """


def tfidf_sql(gaz_pdf: pd.DataFrame, k: int = 5, where: str = "") -> str:
    """sklearn-default TF-IDF cosine (smooth idf, raw tf, l2 rows, ties at
    higher ordinal first)."""
    return f"""
    WITH {_mentions_ctes(gaz_pdf, where)},
    {_gaz_values(gaz_pdf)},
    {_GEN_STATS},
    idf AS (SELECT d.label, d.t, ln((1.0 + n.n) / (1.0 + d.df)) + 1.0 AS idf
            FROM dfq d JOIN nn n USING (label)),
    w AS (SELECT t.label, t.ord, t.t, t.tf * i.idf AS w
          FROM tf t JOIN idf i ON i.label = t.label AND i.t = t.t),
    nrm AS (SELECT label, ord, sqrt(SUM(w * w)) AS nrm
            FROM w GROUP BY label, ord),
    dots AS (SELECT a.label, a.ord AS qord, b.ord AS ord, SUM(a.w * b.w) AS dot
             FROM w a JOIN w b ON a.label = b.label AND a.t = b.t
             GROUP BY a.label, a.ord, b.ord),
    cosin AS (SELECT d.label, d.qord, d.ord,
                     d.dot / (na.nrm * nb.nrm) AS score
              FROM dots d
              JOIN nrm na ON na.label = d.label AND na.ord = d.qord
              JOIN nrm nb ON nb.label = d.label AND nb.ord = d.ord),
    allsc AS (
      SELECT m.url, m.start, m."end", m.label, g.ord, g.term, g.code,
             COALESCE(c.score, 0.0) AS score
      FROM mentions m
      JOIN gazt q ON q.label = m.label AND q.term = m.span
      JOIN gazt g ON g.label = m.label
      LEFT JOIN cosin c ON c.label = m.label AND c.qord = q.ord
        AND c.ord = g.ord
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                                   ORDER BY score DESC, ord DESC) AS rk
      FROM allsc
    )
    SELECT url, start, "end", label, CAST(rk - 1 AS INT) AS rank, term, code,
           ROUND(score, 5) AS score_r
    FROM ranked WHERE rk <= {k}
    """


def term_avg_sql(gaz_pdf: pd.DataFrame, k: int = 3, where: str = "") -> str:
    """A9 code-centroid retrieval: centroid vectors as literals (mean of a
    code's raw decorated-term embeddings, L2-normalized — for the harness
    gazetteer each code has one synonym), ranking in SQL (score desc,
    code-ordinal asc)."""
    from ..operators.candidates import build_term_avg_index

    av_rows = []
    for label in sorted({str(x) for x in gaz_pdf["label"]}):
        idx = build_term_avg_index(gaz_pdf, label, k=k)
        for ordinal, code in enumerate(idx.codes):
            av_rows.append(
                f"('{label.upper()}', {ordinal}, '{code}', "
                f"{_fmt_vec(idx.matrix[ordinal])})"
            )
    qv_rows = []
    from ..functions.embedder import HashEmbedder, l2_normalize

    emb = HashEmbedder()
    for label, term in zip(gaz_pdf["label"], gaz_pdf["term"]):
        v = l2_normalize(emb.encode([term]))[0]
        qv_rows.append(f"('{str(label).upper()}', '{term}', {_fmt_vec(v)})")
    return f"""
    WITH {_mentions_ctes(gaz_pdf, where)},
    qv(label, term, v) AS (VALUES\n  {','.join(qv_rows)}),
    av(label, ord, code, v) AS (VALUES\n  {','.join(av_rows)}),
    scored AS (
      SELECT m.url, m.start, m."end", m.label, a.code, a.ord,
             list_dot_product(q.v, a.v) AS score
      FROM mentions m
      JOIN qv q ON q.label = m.label AND q.term = m.span
      JOIN av a ON a.label = m.label
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                                   ORDER BY score DESC, ord ASC) AS rk
      FROM scored
    )
    SELECT url, start, "end", label, CAST(rk - 1 AS INT) AS rank, code,
           ROUND(score, 5) AS score_r
    FROM ranked WHERE rk <= {k}
    """


def iob_detect_sql(
    where: str = "",
    sub_width: int = 4,
    salts: tuple = ("",),
    strategy: str = "prod",
    converter: str = "prob_product",
    label: str = "SPAN",
) -> str:
    """Oracle for the M2 token-classifier NER chain
    (operators/ner.TokenClassifierMentionProvider): reproduces the
    surrogate subtokenizer (fixed-width pieces, '##' continuations —
    functions/fragments.surrogate_subtokenize), the hash softmax logits
    (functions/token_classifier.piece_logits: md5('{salt}{piece}|{label}')
    first 8 hex digits / 2^32-1), the A3 per-word log-prob sum, the F9
    argmax (lowest-index tie-break over (B, I, O)), and the M3 windowed
    IOB decode — entirely in SQL. Fragment packing does not affect the
    result (word log-probs are accumulated across fragments), so the
    oracle skips it; packing invariants are pytest-gated separately.

    ``salts``/``strategy`` extend the oracle to the A5 ensemble merge
    (EnsembleTokenClassifier): per-subtoken class probability = the
    strategy-combined probability across the salted models, combined
    BEFORE the ln (matching the engine's combine-then-log arithmetic)."""
    w = sub_width

    def class_prob(lab: str, salt: str) -> str:
        lg = (
            f"(('0x' || substr(md5('{{salt}}' || piece || '|{{lab}}'), 1, 8))"
            f"::BIGINT / 4294967295.0)"
        )
        num = lg.format(salt=salt, lab=lab)
        den = " + ".join(
            f"exp({lg.format(salt=salt, lab=c)})" for c in ("B", "I", "O")
        )
        return f"(exp({num}) / ({den}))"

    def ln_combined(lab: str) -> str:
        ps = [class_prob(lab, salt) for salt in salts]
        if len(ps) == 1:
            combined = ps[0]
        elif strategy == "prod":
            combined = " * ".join(ps)
        elif strategy == "sum":
            combined = "(" + " + ".join(ps) + ")"
        elif strategy == "max":
            combined = f"greatest({', '.join(ps)})"
        else:
            raise ValueError(f"unknown strategy {strategy!r}")
        return f"ln({combined})"

    lnb, lni, lno = (ln_combined(lab) for lab in ("B", "I", "O"))
    if converter == "prob_product":
        # A3: per-word log-prob sums, argmax (lowest-index ties)
        words_body = """
      SELECT url, pos, any_value(w) AS w, any_value(start) AS start,
             any_value("end") AS "end",
             CASE WHEN SUM(ln_b) >= SUM(ln_i) AND SUM(ln_b) >= SUM(ln_o)
                    THEN 'B'
                  WHEN SUM(ln_i) >= SUM(ln_o) THEN 'I'
                  ELSE 'O' END AS iob
      FROM plp GROUP BY url, pos"""
    elif converter == "crf_vote":
        # CRFAllWordPreds: subtoken argmax votes, word = most frequent
        # class (count desc, class asc — np.argmax of the bincount)
        words_body = """
      SELECT url, pos, w, start, "end", iob FROM (
        SELECT url, pos, any_value(w) AS w, any_value(start) AS start,
               any_value("end") AS "end", cls,
               CASE cls WHEN 0 THEN 'B' WHEN 1 THEN 'I' ELSE 'O' END AS iob,
               ROW_NUMBER() OVER (PARTITION BY url, pos
                                  ORDER BY COUNT(*) DESC, cls ASC) AS crk
        FROM (
          SELECT url, pos, w, start, "end",
                 CASE WHEN ln_b >= ln_i AND ln_b >= ln_o THEN 0
                      WHEN ln_i >= ln_o THEN 1 ELSE 2 END AS cls
          FROM plp
        ) GROUP BY url, pos, cls
      ) WHERE crk = 1"""
    else:
        raise ValueError(f"unknown converter {converter!r}")
    return f"""
    WITH {_otok_ctes(where)},
    pieces AS (
      SELECT url, pos, w, start, start + CAST(length(w) AS INT) AS "end",
             unnest(generate_series(
               1, CAST(ceil(length(w) / {w}.0) AS INT))) AS pj
      FROM otok
    ),
    p2 AS (
      SELECT url, pos, w, start, "end",
             CASE WHEN pj = 1 THEN substr(w, 1, {w})
                  ELSE '##' || substr(w, (pj - 1) * {w} + 1, {w}) END AS piece
      FROM pieces
    ),
    plp AS (
      SELECT url, pos, w, start, "end",
             {lnb} AS ln_b,
             {lni} AS ln_i,
             {lno} AS ln_o
      FROM p2
    ),
    words AS ({words_body}
    ),
    tagged AS (
      SELECT *, SUM(CASE WHEN iob = 'B' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY url ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS grp
      FROM words
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, MIN(CASE WHEN iob = 'O' THEN pos END)
                    OVER (PARTITION BY url, grp) AS first_o
        FROM tagged
      ) WHERE grp > 0 AND iob IN ('B','I')
          AND (first_o IS NULL OR pos < first_o)
    )
    SELECT url, '{label}' AS label, MIN(start) AS start, MAX("end") AS "end",
           string_agg(w, ' ' ORDER BY pos) AS span
    FROM kept GROUP BY url, grp
    """


def rerank_sql(gaz_pdf: pd.DataFrame, kind: str, where: str = "") -> str:
    """Oracle for the reranking stages over knn candidates.

    The candidate set is `_ranked_ctes` top-3 (identical to
    knn_candidates' retrieval order); the pair score is the cosine of the
    (raw span, decorated term) HashEmbedder vectors — seed 42 for the
    bi-encoder (operators/rerank.biencoder_rerank), seed 777 for the
    SurrogateCrossEncoder — emitted as literals; the rerank window
    (pair-score desc, retrieval-rank asc) runs in SQL."""
    from ..functions.embedder import HashEmbedder, l2_normalize
    from ..functions.gazetteer import decorate_term

    seed, alias = {"crossencoder": (777, "ce_r"), "biencoder": (42, "bi_r")}[
        kind
    ]
    emb = HashEmbedder(seed=seed)
    pq_rows, pt_rows = [], []
    for label, term, tag in zip(
        gaz_pdf["label"], gaz_pdf["term"], gaz_pdf["semantic_tag"]
    ):
        lu = str(label).upper()
        qv = l2_normalize(emb.encode([term]))[0]
        dec = decorate_term(term, tag)
        tv = l2_normalize(emb.encode([dec]))[0]
        pq_rows.append(f"('{lu}', '{term}', {_fmt_vec(qv)})")
        pt_rows.append(f"('{lu}', '{dec}', {_fmt_vec(tv)})")
    return f"""
    WITH {_ranked_ctes(gaz_pdf, 3, where)},
    pq(label, span, v) AS (VALUES
      {",".join(pq_rows)}),
    pt(label, term, v) AS (VALUES
      {",".join(pt_rows)}),
    cands AS (
      SELECT url, start, "end", label, span, term,
             CAST(rk - 1 AS INT) AS rank
      FROM ranked WHERE rk <= 3
    ),
    scored2 AS (
      SELECT c.*, list_dot_product(q.v, t.v) AS s2
      FROM cands c
      JOIN pq q ON q.label = c.label AND q.span = c.span
      JOIN pt t ON t.label = c.label AND t.term = c.term
    )
    SELECT url, start, "end", label, term, rank,
           CAST(ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                ORDER BY s2 DESC, rank ASC) - 1 AS INT) AS rerank,
           ROUND(s2, 5) AS {alias}
    FROM scored2
    """


def norm_reduce_sql(gaz_pdf: pd.DataFrame, where: str = "") -> str:
    """Oracle for the A4 word->mention code reduce
    (operators/norm_reduce.normalize_mentions, strategy='prod'): per
    (word, code) softmax over md5 logits, product over the span's words
    (as a log-sum — argmax-equivalent to the engine's prob product), and
    argmax with lowest-ordinal tie-break, entirely in SQL."""
    rows, counters = [], {}
    for label, code in zip(gaz_pdf["label"], gaz_pdf["code"].astype(str)):
        lu = str(label).upper()
        o = counters.get(lu, 0)
        counters[lu] = o + 1
        rows.append(f"('{lu}', {o}, '{code}')")
    codes_sql = "ncodes(label, ord, code) AS (VALUES\n  " + ",\n  ".join(rows) + ")"
    return f"""
    WITH {_mentions_ctes(gaz_pdf, where)},
    {codes_sql},
    mw AS (
      SELECT url, start, "end", label, span,
             unnest(string_split(span, ' ')) AS wd
      FROM mentions
    ),
    logit AS (
      SELECT m.url, m.start, m."end", m.label, m.span, m.wd, c.ord, c.code,
             exp(('0x' || substr(md5('norm|' || m.wd || '|' || c.code), 1, 8))
                 ::BIGINT / 4294967295.0) AS e
      FROM mw m JOIN ncodes c ON c.label = m.label
    ),
    prob AS (
      SELECT *, e / SUM(e) OVER (PARTITION BY url, start, "end", label, wd)
               AS p
      FROM logit
    ),
    red AS (
      SELECT url, start, "end", label, span, ord, code, SUM(ln(p)) AS s
      FROM prob GROUP BY url, start, "end", label, span, ord, code
    ),
    pick AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY url, start, "end", label
                                   ORDER BY s DESC, ord ASC) AS rk
      FROM red
    )
    SELECT url, label, start, "end", span, code AS norm_code
    FROM pick WHERE rk = 1
    """


def multitype_detect_sql(
    where: str = "", types: tuple = (("disease", ""), ("procedure", "m2"))
) -> str:
    """Oracle for the multi-entity-type M2 composition (reference
    `mentions_detection.py:216-286`): one iob_detect_sql chain per
    (entity_type, weight-set salt), labels = upper-cased type, results
    UNION ALL'd — the reference's sorted-per-type concat. Each chain is
    a derived table with its own CTEs (DuckDB scopes WITH inside
    subqueries)."""
    legs = [
        f"SELECT * FROM ({iob_detect_sql(where=where, salts=(salt,), label=etype.upper())})"
        for etype, salt in sorted(types)
    ]
    return "\n    UNION ALL\n    ".join(legs)


def token_ce_loss_sql(
    gaz_pdf: pd.DataFrame,
    where: str = "",
    sub_width: int = 4,
    salt: str = "",
    label: str = "DISEASE",
    weak_label: str = "I",
    weak_weight: float = 1.0,
    strong_weight: float = 2.0,
) -> str:
    """Oracle for the M8 masked token-classification loss
    (operators/loss.token_ce_loss; reference tf/loss.py:4-74): gold =
    distant-supervision B/I/O from the gazetteer mentions join (same
    scanner-equals-join precondition as detect_mentions_sql), the masked
    position set = exactly each word's FIRST subtoken piece
    (continuations are IGNORE_VALUE in the engine and simply never
    generated here), per-position -ln(softmax(md5 logits)[gold]), AVG
    and weight-scaled AVG reductions."""
    w = sub_width

    def lg(lab: str) -> str:
        return (
            f"(('0x' || substr(md5('{salt}' || substr(w, 1, {w}) "
            f"|| '|{lab}'), 1, 8))::BIGINT / 4294967295.0)"
        )

    den = " + ".join(f"exp({lg(c)})" for c in ("B", "I", "O"))

    def nlp(lab: str) -> str:
        return f"-ln(exp({lg(lab)}) / ({den}))"

    return f"""
    WITH {_mentions_ctes(gaz_pdf, where)},
    dm AS (SELECT * FROM mentions WHERE label = '{label}'),
    gold AS (
      SELECT o.w AS w,
             CASE WHEN m.start IS NULL THEN 'O'
                  WHEN o.start = m.start THEN 'B' ELSE 'I' END AS g
      FROM otok o LEFT JOIN dm m
        ON o.url = m.url AND o.start >= m.start
       AND o.start + CAST(length(o.w) AS INT) <= m."end"
    ),
    ce AS (
      SELECT CASE g WHEN 'B' THEN {nlp("B")}
                    WHEN 'I' THEN {nlp("I")}
                    ELSE {nlp("O")} END AS ce,
             CASE WHEN g = '{weak_label}' THEN {weak_weight}
                  ELSE {strong_weight} END AS wt
      FROM gold
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_active,
           ROUND(AVG(ce), 6) AS mean_ce,
           ROUND(AVG(ce * wt), 6) AS weighted_mean_ce
    FROM ce
    """
