"""Lucene-classic query-string search: one string, full retrieval DSL.

``parse_query_string`` turns Lucene ``query_string`` syntax into an
AST; the engine compiles it onto the primitives that already exist —
term postings, the vocabulary sidecar (prefix/fuzzy expansion), the
positional sidecar / match-then-verify (phrases) and the weighted BM25
scorer. This is the composition layer the reference cannot express at
all (its query surface is a single dense-embedding string,
/root/reference/api/query.py); Lucene's QueryParser is the public
model.

Grammar (a documented Lucene subset)::

    query   := or
    or      := and (OR and)*
    and     := unary ((AND)? unary)*          -- adjacency = implicit AND
    unary   := (NOT | '-') unary | primary    -- '+' prefix is a no-op
    primary := '(' query ')' | '"..."' [~slop] [^boost] | leaf
    leaf    := word [^boost] | word'*' [^boost] | word'~'[dist] [^boost]
             | wildcard [^boost]                 -- mid-term '*' runs

Precedence: AND binds tighter than OR (Lucene operator semantics, not
its quirky OR-default); NOT is a prefix on a single operand. The
default connective between adjacent clauses is AND (like ES
``default_operator: AND``), matching query/boolean.py's implicit-AND
chain.

Semantics:

* candidates: the tree evaluates over doc-id SETS — a term leaf is the
  docs containing it; ``pre*`` / ``mid*dle`` / ``term~d`` leaves are
  the UNION of their vocabulary expansions (df-capped like Lucene
  MultiTermQuery; trailing-* prefixes range-prune the sidecar read,
  mid-term wildcards pay wildcard_topk's full vocab scan); a phrase
  leaf is the verified phrase match set; AND intersects, OR unions,
  NOT subtracts.
* scoring: BM25 over the POSITIVE leaves' terms with GLOBAL corpus
  stats, restricted to the candidate set (the filtered-search
  convention every other path here uses). Each positive leaf
  contributes its terms at the leaf's ``^boost`` weight; a term named
  by several leaves sums their weights (Lucene sums per-clause
  scores). NOT subtrees never score.
* validity: a query (or any AND group) must have at least one positive
  operand, NOT directly under OR is rejected (Lucene's ambiguous
  ``a OR -b``), and double negation is rejected — the same
  "pure-negative queries have no candidate generator" rule Lucene
  enforces.

Scale shape (accepted_docs_df): tree acceptance is a POINTWISE
function of per-leaf membership, so the distributed plan is
query/boolean.py's step-bitmask device generalized to trees — a
bucket+term-pruned postings pass tags each doc with a bitmask of the
leaves it satisfies, one ``bit_or`` shuffle folds the mask, and the
tree evaluates as a single Catalyst predicate over the bits. A
term-only tree is exactly ONE postings pass; each phrase leaf adds
its own conjunction branch over the (further term-pruned) scan plus a
verify, entering the union as its own bit source. No stage ever
touches a doc containing none of the query's terms, and the only
corpus access is the phrase verify's candidate-semi-joined scan (or
none at all with the positional sidecar).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import analysis

__all__ = [
    "Term", "Prefix", "Wildcard", "Fuzzy", "Phrase", "Not", "And", "Or",
    "parse_query_string", "expand_leaves", "scoring_bag",
    "referenced_terms", "phrase_leaves", "accepted_docs_df",
]


# --------------------------------------------------------------- AST

@dataclass
class Term:
    text: str
    boost: float = 1.0


@dataclass
class Prefix:
    stem: str
    boost: float = 1.0
    expansions: list[str] | None = None  # filled by expand_leaves


@dataclass
class Wildcard:
    pattern: str  # lowercase alnum + '*' runs, e.g. 'mi*le'
    boost: float = 1.0
    expansions: list[str] | None = None  # filled by expand_leaves


@dataclass
class Fuzzy:
    text: str
    dist: int = 1
    boost: float = 1.0
    expansions: list[str] | None = None  # filled by expand_leaves


@dataclass
class Phrase:
    terms: list[str]  # analyzer output, order preserved
    slop: int = 0
    boost: float = 1.0


@dataclass
class Not:
    child: object


@dataclass
class And:
    children: list = field(default_factory=list)


@dataclass
class Or:
    children: list = field(default_factory=list)


_LEAF_TYPES = (Term, Prefix, Wildcard, Fuzzy, Phrase)


# ------------------------------------------------------------- lexer

_BOOST_SUFFIX = re.compile(r"\^(\d+(?:\.\d+)?)$")
_FUZZ_SUFFIX = re.compile(r"~(\d*)$")


def _lex(s: str) -> list[tuple]:
    """Tokens: ('LP',) ('RP',) ('OP', 'AND'|'OR'|'NOT') ('WORD', raw)
    ('PHRASE', body, slop, boost)."""
    out: list[tuple] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
        elif c == "(":
            out.append(("LP",))
            i += 1
        elif c == ")":
            out.append(("RP",))
            i += 1
        elif c == "-":
            out.append(("OP", "NOT"))
            i += 1
        elif c == "+":  # Lucene '+must': must IS the default here
            i += 1
        elif c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise ValueError("unterminated phrase quote")
            body = s[i + 1:j]
            i = j + 1
            slop, boost = 0, 1.0
            m = re.match(r"~(\d+)", s[i:])
            if m:
                slop = int(m.group(1))
                i += m.end()
            m = re.match(r"\^(\d+(?:\.\d+)?)", s[i:])
            if m:
                boost = float(m.group(1))
                i += m.end()
            out.append(("PHRASE", body, slop, boost))
        else:
            j = i
            while j < n and not s[j].isspace() and s[j] not in '()"':
                j += 1
            word = s[i:j]
            i = j
            if word in ("AND", "&&"):
                out.append(("OP", "AND"))
            elif word in ("OR", "||"):
                out.append(("OP", "OR"))
            elif word == "NOT":
                out.append(("OP", "NOT"))
            else:
                out.append(("WORD", word))
    return out


def _leaf_from_word(raw: str):
    boost = 1.0
    m = _BOOST_SUFFIX.search(raw)
    if m:
        boost = float(m.group(1))
        raw = raw[: m.start()]
    dist: int | None = None
    m = _FUZZ_SUFFIX.search(raw)
    if m:
        dist = int(m.group(1)) if m.group(1) else 1
        raw = raw[: m.start()]
    if "?" in raw:
        raise ValueError(
            f"'?' wildcards are not supported ({raw!r}) — '*' runs only")
    is_prefix = raw.endswith("*") and "*" not in raw[:-1]
    if is_prefix:
        raw = raw[:-1]
    if not is_prefix and "*" in raw:
        # mid-term wildcard: Lucene WildcardQuery (full vocab scan)
        if dist is not None:
            raise ValueError(
                f"clause {raw!r} cannot be both wildcard and fuzzy")
        pat = raw.lower()
        if pat.strip("*") == "" or not re.fullmatch(r"[a-z0-9*]+", pat):
            raise ValueError(
                f"wildcard pattern {raw!r} needs alnum literals and "
                f"at least one non-* character")
        return Wildcard(pat, boost)
    if is_prefix and dist is not None:
        raise ValueError(f"clause {raw!r} cannot be both prefix and fuzzy")
    toks = analysis.tokenize(raw)
    if len(toks) != 1:
        raise ValueError(
            f"operand {raw!r} does not analyze to a single term — "
            f"quote multi-token operands as a phrase")
    t = toks[0]
    if is_prefix:
        return Prefix(t, boost)
    if dist is not None:
        if dist < 1 or dist > 2:
            raise ValueError("fuzzy distance must be 1 or 2")
        return Fuzzy(t, dist, boost)
    return Term(t, boost)


# ------------------------------------------------------------ parser

def parse_query_string(s: str):
    """Parse ``s`` into an AST (raises ValueError on invalid syntax or
    a query with no positive candidate generator)."""
    toks = _lex(s)
    if not toks:
        raise ValueError("empty query string")
    node, pos = _parse_or(toks, 0)
    if pos != len(toks):
        raise ValueError("unbalanced ')' in query string")
    _validate(node, under_or=False, is_root=True)
    return node


def _parse_or(toks, pos):
    parts, pos = [], pos
    node, pos = _parse_and(toks, pos)
    parts.append(node)
    while pos < len(toks) and toks[pos] == ("OP", "OR"):
        node, pos = _parse_and(toks, pos + 1)
        parts.append(node)
    return (parts[0] if len(parts) == 1 else Or(parts)), pos


def _parse_and(toks, pos):
    parts = []
    node, pos = _parse_unary(toks, pos)
    parts.append(node)
    while pos < len(toks) and toks[pos] != ("OP", "OR") and toks[pos] != ("RP",):
        if toks[pos] == ("OP", "AND"):
            pos += 1
            if pos >= len(toks) or toks[pos] in (("RP",), ("OP", "OR"), ("OP", "AND")):
                raise ValueError("dangling AND operator")
        node, pos = _parse_unary(toks, pos)
        parts.append(node)
    return (parts[0] if len(parts) == 1 else And(parts)), pos


def _parse_unary(toks, pos):
    if pos < len(toks) and toks[pos] == ("OP", "NOT"):
        child, pos = _parse_unary(toks, pos + 1)
        if isinstance(child, Not):
            raise ValueError("double negation is not supported")
        return Not(child), pos
    return _parse_primary(toks, pos)


def _parse_primary(toks, pos):
    if pos >= len(toks):
        raise ValueError("query string ends mid-expression")
    tok = toks[pos]
    if tok == ("LP",):
        node, pos = _parse_or(toks, pos + 1)
        if pos >= len(toks) or toks[pos] != ("RP",):
            raise ValueError("unbalanced '(' in query string")
        return node, pos + 1
    if tok[0] == "PHRASE":
        terms = analysis.tokenize(tok[1])
        if not terms:
            raise ValueError("empty phrase")
        if len(terms) == 1:  # degenerate phrase == term match
            return Term(terms[0], tok[3]), pos + 1
        return Phrase(terms, tok[2], tok[3]), pos + 1
    if tok[0] == "WORD":
        return _leaf_from_word(tok[1]), pos + 1
    raise ValueError(f"unexpected {tok[1] if len(tok) > 1 else tok[0]!r} "
                     f"in query string")


def _validate(node, under_or: bool, is_root: bool = False):
    if isinstance(node, Not):
        if is_root:
            raise ValueError(
                "pure-negative query has no candidate generator")
        if under_or:
            raise ValueError(
                "NOT directly under OR is ambiguous — rewrite as "
                "'(... AND NOT x)'")
        _validate(node.child, under_or=False)
        return
    if isinstance(node, And):
        if not any(not isinstance(c, Not) for c in node.children):
            raise ValueError(
                "AND group needs at least one positive operand")
        for c in node.children:
            _validate(c, under_or=False)
        return
    if isinstance(node, Or):
        for c in node.children:
            _validate(c, under_or=True)
        return
    # leaves are always valid


# -------------------------------------------------------- tree walks

def expand_leaves(engine, snap, node, max_expansions: int = 50):
    """Resolve Prefix/Wildcard/Fuzzy leaves against the engine's
    vocabulary sidecar at the query's snapshot ``snap``, IN PLACE (df
    DESC, term capped at ``max_expansions`` — the Lucene MultiTermQuery
    rewrite). Returns ``node``. Raises if such a leaf exists and the
    sidecar does not."""
    if isinstance(node, Prefix):
        node.expansions = [t for t, _ in
                           engine._suggest(snap, node.stem, max_expansions)]
    elif isinstance(node, Wildcard):
        regex = "^" + ".*".join(re.escape(p)
                                for p in node.pattern.split("*")) + "$"
        node.expansions = engine._expand_vocab(
            snap, regex, max_expansions, caller="query_string_topk")
    elif isinstance(node, Fuzzy):
        node.expansions = engine._fuzzy_expansions(
            snap, node.text, node.dist, max_expansions)
    elif isinstance(node, Not):
        expand_leaves(engine, snap, node.child, max_expansions)
    elif isinstance(node, (And, Or)):
        for c in node.children:
            expand_leaves(engine, snap, c, max_expansions)
    return node


def scoring_bag(node) -> dict[str, float]:
    """term -> summed boost over the POSITIVE leaves (post-expansion).
    NOT subtrees are excluded entirely."""
    bag: dict[str, float] = {}

    def add(t: str, w: float):
        bag[t] = bag.get(t, 0.0) + w

    def walk(n):
        if isinstance(n, Term):
            add(n.text, n.boost)
        elif isinstance(n, (Prefix, Wildcard, Fuzzy)):
            for t in n.expansions or ():
                add(t, n.boost)
        elif isinstance(n, Phrase):
            for t in sorted(set(n.terms)):
                add(t, n.boost)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)
        # Not: skip

    walk(node)
    return bag


def referenced_terms(node) -> set[str]:
    """EVERY term the tree touches — positive, negative, phrase and
    expansion — i.e. the postings the evaluation must read."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, Term):
            out.add(n.text)
        elif isinstance(n, (Prefix, Wildcard, Fuzzy)):
            out.update(n.expansions or ())
        elif isinstance(n, Phrase):
            out.update(n.terms)
        elif isinstance(n, Not):
            walk(n.child)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)

    walk(node)
    return out


def phrase_leaves(node) -> list[Phrase]:
    out: list[Phrase] = []

    def walk(n):
        if isinstance(n, Phrase):
            out.append(n)
        elif isinstance(n, Not):
            walk(n.child)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)

    walk(node)
    return out


def _collect_leaves(node) -> list:
    """Leaf nodes in deterministic (pre-order) order — bit i of the
    membership mask belongs to leaves[i]."""
    out: list = []

    def walk(n):
        if isinstance(n, _LEAF_TYPES):
            out.append(n)
        elif isinstance(n, Not):
            walk(n.child)
        elif isinstance(n, (And, Or)):
            for c in n.children:
                walk(c)

    walk(node)
    return out


# ------------------------------------------------- distributed plan

def accepted_docs_df(spark: SparkSession, snap, node,
                     docs_df: DataFrame | None = None) -> DataFrame:
    """The candidate set of an (expanded) query-string tree as a
    distributed (doc_id) frame — boolean.py's step-bitmask generalized
    to trees (see module docstring for the plan shape), read from the
    query's Snapshot ``snap`` (index/storage.py). ``docs_df`` feeds
    phrase verify (match-then-verify); None uses the positional
    sidecar."""
    import pandas as pd

    from ..analysis import term_id_for
    from ..index.build import doc_id_expr
    from .phrase import (_verified_by_positions, joined_tokens_expr,
                         phrase_pattern, plan_barrier)
    from .scoring import decoded_postings

    leaves = _collect_leaves(node)
    if len(leaves) > 63:
        raise ValueError("query string exceeds 63 leaves")
    bit_of = {id(leaf): i for i, leaf in enumerate(leaves)}

    # per-term membership mask over the term-ish leaves (phrase leaves
    # get their own verified bit source below)
    mask_of_term: dict[str, int] = {}
    all_terms: set[str] = set()
    for leaf in leaves:
        if isinstance(leaf, Term):
            ts = [leaf.text]
        elif isinstance(leaf, (Prefix, Wildcard, Fuzzy)):
            ts = list(leaf.expansions or ())
        else:  # Phrase: terms read for the conjunction, no direct bit
            all_terms.update(leaf.terms)
            continue
        all_terms.update(ts)
        for t in ts:
            mask_of_term[t] = mask_of_term.get(t, 0) | (1 << bit_of[id(leaf)])

    if not all_terms:
        return spark.createDataFrame([], "doc_id long")

    decoded = decoded_postings(spark, snap,
                               [term_id_for(t) for t in all_terms])

    srcs: list[DataFrame] = []
    if mask_of_term:
        mem = spark.createDataFrame(
            pd.DataFrame(
                [{"term_id": term_id_for(t), "bits": m}
                 for t, m in sorted(mask_of_term.items())]),
            "term_id long, bits long")
        srcs.append(decoded.join(F.broadcast(mem), "term_id")
                    .select("doc_id", "bits"))

    ph_leaves = [l for l in leaves if isinstance(l, Phrase)]
    if ph_leaves and docs_df is None:
        # positional sidecar: per-leaf verify (each leaf prunes its own
        # position blocks; slop differs per leaf) — no corpus at all
        for leaf in ph_leaves:
            bit = 1 << bit_of[id(leaf)]
            uts = sorted(set(leaf.terms))
            ph_ids = [term_id_for(t) for t in uts]
            cand = (decoded.where(F.col("term_id").isin(ph_ids))
                    .groupBy("doc_id")
                    .agg(F.count_distinct("term_id").alias("n_hit"))
                    .where(F.col("n_hit") == len(uts))
                    .select(F.lit(0).alias("query_id"), "doc_id"))
            qpdf = pd.DataFrame(
                [{"query_id": 0, "term": t, "term_id": term_id_for(t)}
                 for t in uts])
            verified = _verified_by_positions(
                spark, snap, [(0, " ".join(leaf.terms))], cand, qpdf,
                leaf.slop)
            srcs.append(verified.select(
                "doc_id", F.lit(bit).cast("long").alias("bits")))
    elif ph_leaves:
        # match-then-verify: ONE leaf table + ONE shared joined-tokens
        # scan over the union of every leaf's candidates (a 3-phrase
        # tree must not tokenize the corpus three times)
        ph = spark.createDataFrame(
            [(f"p{bit_of[id(l)]}", 1 << bit_of[id(l)],
              phrase_pattern(l.terms, l.slop), l.slop,
              len(set(l.terms)))
             for l in ph_leaves],
            "leaf_key string, bits long, pat string, slop int,"
            " n_terms int")
        pht = spark.createDataFrame(
            [(f"p{bit_of[id(l)]}", term_id_for(t))
             for l in ph_leaves for t in sorted(set(l.terms))],
            "leaf_key string, term_id long")
        cand = (decoded.join(F.broadcast(pht), "term_id")
                .groupBy("doc_id", "leaf_key")
                .agg(F.count_distinct("term_id").alias("n_hit"))
                .join(F.broadcast(ph), "leaf_key")
                .where(F.col("n_hit") == F.col("n_terms")))
        src = docs_df
        if "doc_id" not in src.columns:
            src = src.withColumn("doc_id", doc_id_expr("url"))
        # candidates semi-join FIRST; tokenize survivors only
        # (phrase.py's r5 plan-order rule)
        jt = (src.join(cand.select("doc_id").distinct(), "doc_id",
                       "left_semi")
              .select("doc_id",
                      plan_barrier(joined_tokens_expr("text"))
                      .alias("jt")))
        srcs.append(
            cand.join(jt, "doc_id")
            .where(F.when(F.col("slop") == 0,
                          F.col("jt").contains(F.col("pat")))
                   .otherwise(F.expr("rlike(jt, pat)")))
            .select("doc_id", "bits"))

    bits = srcs[0]
    for s in srcs[1:]:
        bits = bits.unionByName(s)
    masks = bits.groupBy("doc_id").agg(F.bit_or("bits").alias("mask"))

    def pred(n):
        if isinstance(n, _LEAF_TYPES):
            b = 1 << bit_of[id(n)]
            return F.col("mask").bitwiseAND(F.lit(b)) != F.lit(0)
        if isinstance(n, Not):
            return ~pred(n.child)
        if isinstance(n, And):
            out = None
            for c in n.children:
                p = pred(c)
                out = p if out is None else (out & p)
            return out
        if isinstance(n, Or):
            out = None
            for c in n.children:
                p = pred(c)
                out = p if out is None else (out | p)
            return out
        raise TypeError(type(n).__name__)

    return masks.where(pred(node)).select("doc_id")
