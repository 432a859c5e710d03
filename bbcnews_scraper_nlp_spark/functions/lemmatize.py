"""Lemmatization + POS filtering (reference P13/F10).

The reference runs NLTK ``pos_tag`` + WordNet lemmatization per row
(data_preparation.py:51-80). NLTK isn't a dependency of this engine;
the operators below keep the exact Spark surface (Arrow-batched
pandas UDFs with per-executor kernel init, the pattern a WordNet or
Spark-NLP model would plug into) with a deterministic rule-based
English kernel:

- POS heuristic: suffix/word-list tagger emitting the same tag
  alphabet NLTK uses (NN*, JJ*, RB*, VB*, ...).
- Lemmatizer: inflectional suffix stripping (plural -s/-es/-ies,
  -ing/-ed with stem repair, adverb -ly) — the classic "Porter-lite"
  rules, applied only to open-class words.

Swapping in a real model = replacing the two pure functions; the
Spark plumbing (batching, schema, partition parallelism) is final.
Scale: narrow map stage, Arrow transfer, no shuffle; kernel state is
module-level (initialized once per executor process, not per batch).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Reference keeps only these tags (data_preparation.py:52-53): nouns,
# adjectives, adverbs.
POS_WHITELIST = ("NN", "NNS", "NNP", "NNPS", "JJ", "JJR", "JJS", "RB", "RBR", "RBS")

_COMMON_VERBS = frozenset(
    "be is are was were been being have has had do does did go goes went gone "
    "make makes made take takes took say says said get gets got run runs ran "
    "see sees saw know knows knew think thinks thought come comes came want "
    "wants wanted use uses used find finds found give gives gave tell tells "
    "told work works worked call calls called try tries tried ask asks asked "
    "need needs needed feel feels felt become becomes became leave leaves left "
    "put puts mean means meant keep keeps kept let lets begin begins began "
    "seem seems seemed help helps helped show shows showed hear hears heard "
    "play plays played move moves moved live lives lived believe believes "
    "believed bring brings brought happen happens happened write writes wrote "
    "sit sits sat stand stands stood lose loses lost pay pays paid meet meets "
    "met include includes included continue continues continued set sets "
    "learn learns learned change changes changed lead leads led understand "
    "understands understood watch watches watched follow follows followed "
    "stop stops stopped create creates created speak speaks spoke read reads "
    "spend spends spent grow grows grew open opens opened walk walks walked "
    "win wins won offer offers offered remember remembers remembered".split()
)

_VOWELS = set("aeiou")

# WordNet-morphy-style exception lists (morphy consults an irregular-
# form table BEFORE suffix detachment rules — same structure here;
# contents are common-knowledge English irregulars, not a vendored
# resource). Applied for the matching POS class only.
IRREGULAR_NOUNS: dict[str, str] = {
    "children": "child", "feet": "foot", "geese": "goose",
    "lives": "life", "men": "man", "mice": "mouse", "oxen": "ox",
    "people": "person", "teeth": "tooth", "women": "woman",
    "wives": "wife", "knives": "knife", "leaves": "leaf",
    "halves": "half", "shelves": "shelf", "wolves": "wolf",
    "selves": "self", "loaves": "loaf", "thieves": "thief",
    "scarves": "scarf", "analyses": "analysis", "bases": "basis",
    "crises": "crisis", "theses": "thesis", "phenomena": "phenomenon",
    "criteria": "criterion", "data": "datum", "media": "medium",
    "indices": "index", "matrices": "matrix", "appendices": "appendix",
    "axes": "axis", "series": "series", "species": "species",
}
IRREGULAR_VERBS: dict[str, str] = {
    "was": "be", "were": "be", "been": "be", "being": "be", "is": "be",
    "are": "be", "am": "be", "went": "go", "gone": "go", "did": "do",
    "done": "do", "had": "have", "has": "have", "said": "say",
    "made": "make", "took": "take", "taken": "take", "got": "get",
    "gotten": "get", "came": "come", "saw": "see", "seen": "see",
    "knew": "know", "known": "know", "thought": "think", "gave": "give",
    "given": "give", "found": "find", "told": "tell", "felt": "feel",
    "became": "become", "left": "leave", "meant": "mean",
    "kept": "keep", "began": "begin", "begun": "begin",
    "heard": "hear", "wrote": "write", "written": "write",
    "sat": "sit", "stood": "stand", "lost": "lose", "paid": "pay",
    "met": "meet", "led": "lead", "understood": "understand",
    "spoke": "speak", "spoken": "speak", "spent": "spend",
    "grew": "grow", "grown": "grow", "won": "win", "ran": "run",
    "brought": "bring", "bought": "buy", "caught": "catch",
    "taught": "teach", "fought": "fight", "sought": "seek",
    "sold": "sell", "built": "build", "sent": "send", "fell": "fall",
    "fallen": "fall", "drove": "drive", "driven": "drive",
    "broke": "break", "broken": "break", "chose": "choose",
    "chosen": "choose", "ate": "eat", "eaten": "eat", "drew": "draw",
    "drawn": "draw", "flew": "fly", "flown": "fly", "held": "hold",
    "laid": "lay", "rose": "rise", "risen": "rise", "threw": "throw",
    "thrown": "throw", "wore": "wear", "worn": "wear",
}
IRREGULAR_ADJS: dict[str, str] = {
    "better": "good", "best": "good", "worse": "bad", "worst": "bad",
    "further": "far", "furthest": "far", "farther": "far",
    "farthest": "far", "less": "little", "least": "little",
    "more": "many", "most": "many", "elder": "old", "eldest": "old",
}


def heuristic_pos(word: str) -> str:
    """Deterministic suffix-based POS tag over NLTK's tag alphabet."""
    w = word.lower()
    if not w:
        return "NN"
    if w in _COMMON_VERBS:
        return "VB"
    # irregular-form tables double as POS evidence (morphy-style):
    # "bought"/"men"/"worst" carry no inflectional suffix, so the
    # suffix rules below would mistag them
    if w in IRREGULAR_VERBS:
        return "VBD"
    if w in IRREGULAR_NOUNS:
        return "NNS"
    if w in IRREGULAR_ADJS:
        return "JJR"
    if w.endswith("ly"):
        return "RB"
    if w.endswith(("er", "est")) and len(w) > 4:
        return "JJR" if w.endswith("er") else "JJS"
    if w.endswith(("ous", "ful", "ive", "able", "ible", "al", "ic", "ish")):
        return "JJ"
    if w.endswith("ing") and len(w) > 5:
        return "VBG"
    if w.endswith("ed") and len(w) > 4:
        return "VBD"
    if w.endswith(("ion", "ment", "ness", "ity", "ship", "hood")):
        return "NN"
    if w.endswith("s") and not w.endswith(("ss", "us", "is")):
        return "NNS"
    return "NN"


def rule_lemma(word: str, pos: str) -> str:
    """Inflectional suffix stripping by POS class (WordNet-shaped):
    irregular-form table first (morphy's exception lists), then
    detachment rules."""
    w = word.lower()
    if pos.startswith("N") and w in IRREGULAR_NOUNS:
        return IRREGULAR_NOUNS[w]
    if pos.startswith("V") and w in IRREGULAR_VERBS:
        return IRREGULAR_VERBS[w]
    if pos.startswith("J") and w in IRREGULAR_ADJS:
        return IRREGULAR_ADJS[w]
    if pos.startswith("N"):
        if w.endswith("ies") and len(w) > 4:
            return w[:-3] + "y"
        if w.endswith(("ses", "xes", "zes", "ches", "shes")) and len(w) > 4:
            return w[:-2]
        if w.endswith("s") and not w.endswith(("ss", "us", "is")) and len(w) > 3:
            return w[:-1]
        return w
    if pos.startswith("V"):
        if w.endswith("ing") and len(w) > 5:
            stem = w[:-3]
            if len(stem) > 2 and stem[-1] == stem[-2]:  # runn-ing
                return stem[:-1]
            if stem and stem[-1] not in _VOWELS and len(stem) > 2 and stem[-2] in _VOWELS:
                return stem + "e" if w.endswith(("ating", "izing", "osing", "iving")) else stem
            return stem
        if w.endswith("ied") and len(w) > 4:
            return w[:-3] + "y"
        if w.endswith("ed") and len(w) > 4:
            stem = w[:-2]
            if len(stem) > 2 and stem[-1] == stem[-2]:
                return stem[:-1]
            return stem
        return w
    if pos.startswith("R") and w.endswith("ly") and len(w) > 4:
        return w[:-2]
    if pos.startswith("J"):
        if w.endswith("est") and len(w) > 5:
            return w[:-3]
        if w.endswith("er") and len(w) > 4:
            return w[:-2]
        return w
    return w


def _lemmatize_text(text: str, keep_pos: tuple[str, ...] | None) -> str:
    out = []
    for tok in (text or "").split():
        pos = heuristic_pos(tok)
        if keep_pos is not None and pos not in keep_pos:
            continue
        out.append(rule_lemma(tok, pos))
    return " ".join(out)


def _endswith_any(c: Column, suffixes: tuple[str, ...]) -> Column:
    out = c.endswith(suffixes[0])
    for s in suffixes[1:]:
        out = out | c.endswith(s)
    return out


def _map_lit(d: dict[str, str]) -> Column:
    from itertools import chain

    return F.create_map(
        *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in sorted(d.items()))
    )


def _pos_expr(lw: Column) -> Column:
    """Column twin of ``heuristic_pos`` (same branch order)."""
    er_est = _endswith_any(lw, ("er", "est")) & (F.length(lw) > 4)
    return (
        F.when(lw == "", F.lit("NN"))
        .when(F.array_contains(F.lit(sorted(_COMMON_VERBS)), lw), F.lit("VB"))
        .when(F.map_contains_key(_map_lit(IRREGULAR_VERBS), lw), F.lit("VBD"))
        .when(F.map_contains_key(_map_lit(IRREGULAR_NOUNS), lw), F.lit("NNS"))
        .when(F.map_contains_key(_map_lit(IRREGULAR_ADJS), lw), F.lit("JJR"))
        .when(lw.endswith("ly"), F.lit("RB"))
        .when(er_est, F.when(lw.endswith("er"), F.lit("JJR")).otherwise(F.lit("JJS")))
        .when(
            _endswith_any(
                lw, ("ous", "ful", "ive", "able", "ible", "al", "ic", "ish")
            ),
            F.lit("JJ"),
        )
        .when(lw.endswith("ing") & (F.length(lw) > 5), F.lit("VBG"))
        .when(lw.endswith("ed") & (F.length(lw) > 4), F.lit("VBD"))
        .when(
            _endswith_any(lw, ("ion", "ment", "ness", "ity", "ship", "hood")),
            F.lit("NN"),
        )
        .when(
            lw.endswith("s") & ~_endswith_any(lw, ("ss", "us", "is")),
            F.lit("NNS"),
        )
        .otherwise(F.lit("NN"))
    )


def _chop(lw: Column, n: int) -> Column:
    return F.substring(lw, F.lit(1), F.length(lw) - n)


def _lemma_expr(lw: Column, pos: Column) -> Column:
    """Column twin of ``rule_lemma`` (same branch order per class)."""
    cls = F.substring(pos, 1, 1)
    n_irr = F.element_at(_map_lit(IRREGULAR_NOUNS), lw)
    v_irr = F.element_at(_map_lit(IRREGULAR_VERBS), lw)
    j_irr = F.element_at(_map_lit(IRREGULAR_ADJS), lw)

    noun = (
        F.when(n_irr.isNotNull(), n_irr)
        .when(
            lw.endswith("ies") & (F.length(lw) > 4),
            F.concat(_chop(lw, 3), F.lit("y")),
        )
        .when(
            _endswith_any(lw, ("ses", "xes", "zes", "ches", "shes"))
            & (F.length(lw) > 4),
            _chop(lw, 2),
        )
        .when(
            lw.endswith("s")
            & ~_endswith_any(lw, ("ss", "us", "is"))
            & (F.length(lw) > 3),
            _chop(lw, 1),
        )
        .otherwise(lw)
    )

    def last(c: Column, i: int) -> Column:
        # i-th char from the end (1 = last)
        return F.substring(c, F.length(c) - (i - 1), F.lit(1))

    vowels = ("a", "e", "i", "o", "u")
    ing_stem = _chop(lw, 3)
    ing = (
        F.when(
            (F.length(ing_stem) > 2) & (last(ing_stem, 1) == last(ing_stem, 2)),
            _chop(ing_stem, 1),
        )
        .when(
            (F.length(ing_stem) > 2)
            & ~last(ing_stem, 1).isin(*vowels)
            & last(ing_stem, 2).isin(*vowels),
            F.when(
                _endswith_any(lw, ("ating", "izing", "osing", "iving")),
                F.concat(ing_stem, F.lit("e")),
            ).otherwise(ing_stem),
        )
        .otherwise(ing_stem)
    )
    ed_stem = _chop(lw, 2)
    ed = F.when(
        (F.length(ed_stem) > 2) & (last(ed_stem, 1) == last(ed_stem, 2)),
        _chop(ed_stem, 1),
    ).otherwise(ed_stem)
    verb = (
        F.when(v_irr.isNotNull(), v_irr)
        .when(lw.endswith("ing") & (F.length(lw) > 5), ing)
        .when(lw.endswith("ied") & (F.length(lw) > 4), F.concat(_chop(lw, 3), F.lit("y")))
        .when(lw.endswith("ed") & (F.length(lw) > 4), ed)
        .otherwise(lw)
    )

    adv = F.when(lw.endswith("ly") & (F.length(lw) > 4), _chop(lw, 2)).otherwise(lw)
    adj = (
        F.when(j_irr.isNotNull(), j_irr)
        .when(lw.endswith("est") & (F.length(lw) > 5), _chop(lw, 3))
        .when(lw.endswith("er") & (F.length(lw) > 4), _chop(lw, 2))
        .otherwise(lw)
    )

    return (
        F.when(cls == "N", noun)
        .when(cls == "V", verb)
        .when(cls == "R", adv)
        .when(cls == "J", adj)
        .otherwise(lw)
    )


def lemmatize_text_expr(
    text: Column, pos_whitelist: tuple[str, ...] | None = None
) -> Column:
    """Pure-Catalyst twin of ``make_lemmatize_udf`` — the 100 TB
    default path: zero Python, whole-stage codegen, same output
    string for every input (pytest-verified against the pandas-UDF
    kernel token-for-token). The UDF surface remains the mount point
    for a real WordNet/Spark-NLP model; this expression IS the
    deterministic rule kernel, compiled.
    """
    # coalesce: NULL text must yield "" (matching the pandas kernel's
    # (text or '').split() and the DuckDB oracles); split on ANY
    # whitespace run like str.split(), not just single spaces.
    toks = F.filter(
        F.split(F.coalesce(text, F.lit("")), r"\s+"), lambda t: t != ""
    )
    tagged = F.transform(
        toks,
        lambda t: F.struct(
            F.lower(t).alias("lw"), _pos_expr(F.lower(t)).alias("pos")
        ),
    )
    if pos_whitelist is not None:
        tagged = F.filter(
            tagged, lambda s: s["pos"].isin(*pos_whitelist)
        )
    lemmas = F.transform(tagged, lambda s: _lemma_expr(s["lw"], s["pos"]))
    return F.array_join(lemmas, " ")


# reference's POS-letter -> WordNet-pos map, NOUN default
# (dags/scripts/data_preparation.py:66-76 tag_dict)
_WORDNET_POS = {"J": "a", "N": "n", "V": "v", "R": "r"}


def make_lemmatize_udf(
    pos_whitelist: tuple[str, ...] | None = None,
    model=None,
):
    """pandas UDF: lemmatize; optionally POS-filter first (F10+P13).

    ``pos_whitelist=None`` lemmatizes everything; pass POS_WHITELIST
    to reproduce the reference's noun/adj/adverb keep-list.

    ``model`` is the real-model mount point: a callable
    ``(word, wordnet_pos) -> lemma`` with ``wordnet_pos`` in
    ``{'n','v','a','r'}`` — exactly ``nltk.stem.WordNetLemmatizer().
    lemmatize``'s signature, so the reference's lemmatizer
    (dags/scripts/data_preparation.py:60-80) plugs in directly:
    tokens are tagged, the tag's first letter maps through the
    reference's tag_dict (NOUN default), and the model produces the
    lemma. ``model=None`` keeps the pure-Python rule kernel (whose
    compiled twin is ``lemmatize_text_expr``). The callable is
    captured in the UDF closure and must be picklable; wrap
    heavyweight libraries in a lazy initializer so the model loads
    once per executor, not on the driver.
    """

    if model is None:
        fn = lambda t: _lemmatize_text(t, pos_whitelist)  # noqa: E731
    else:

        def fn(t: str) -> str:
            out = []
            for tok in (t or "").split():
                pos = heuristic_pos(tok)
                if pos_whitelist is not None and pos not in pos_whitelist:
                    continue
                out.append(model(tok, _WORDNET_POS.get(pos[0], "n")))
            return " ".join(out)

    @F.pandas_udf(T.StringType())
    def lemmatize(texts: pd.Series) -> pd.Series:
        return texts.map(fn)

    return lemmatize
