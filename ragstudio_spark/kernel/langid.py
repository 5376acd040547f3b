"""Heuristic language identification (from scratch; no external models).

Replaces the reference's ``langdetect.detect(text[:5000])`` (reference:
src/workflows/ingest/normalize.py:46-54, seeded for determinism) with a
deterministic stopword-profile scorer. The contract preserved from the
reference is the *interface*: first 5000 chars, returns an ISO-639-1 code or
``None`` when nothing can be detected; downstream the allow-list filter keeps
only configured languages (default fr/en — src/core/config/defaults.py).

The scoring formula is intentionally simple enough to express identically in
Spark column expressions and in DuckDB SQL (see operators/textstats.py), so
the distributed operator is oracle-checkable:

    score(lang) = number of occurrences of that language's stopword tokens
    winner     = argmax score, ties broken by language code ascending,
                 None if the best score is 0
"""

from __future__ import annotations

import re

# Compact, high-frequency function-word profiles. Word-boundary matched,
# lowercase. Chosen to discriminate the table languages on short
# snippets. The nl/sv/da/ro/pl rows are the round-5 table extension: the
# measured divergence (the tests/test_langid.py fixture) showed every
# out-of-table Germanic/Romance/Slavic fixture misattributed — Dutch to
# 'en' and Danish/Polish partly to 'en', which the default fr/en
# allow-list then WRONGLY KEEPS. Their profiles deliberately avoid
# tokens frequent in the other table languages (e.g. no Dutch "de"/"en",
# which would collide with French/English text) so existing predictions
# cannot flip; shared low-risk tokens (sv/da "som", de/sv "den") count
# for both owners, exactly as the per-language findall did.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "with", "for",
           "was", "this", "are", "not", "have"),
    "fr": ("le", "la", "les", "des", "une", "est", "dans", "pour", "que",
           "qui", "pas", "avec", "sur", "nous", "vous"),
    "es": ("el", "los", "las", "una", "es", "en", "que", "por", "para",
           "con", "del", "se", "su", "como", "más"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit",
           "für", "auf", "den", "von", "sich", "auch"),
    "it": ("il", "la", "che", "di", "è", "non", "per", "una", "sono", "con",
           "del", "gli", "questo", "come", "più"),
    "pt": ("o", "os", "uma", "é", "em", "que", "não", "para", "com", "do",
           "da", "se", "por", "mais", "como"),
    "nl": ("het", "een", "niet", "zijn", "ook", "naar", "wordt", "heeft",
           "maar", "bij", "worden", "deze", "wij", "geen", "nog"),
    "sv": ("och", "att", "som", "är", "inte", "den", "ett", "han", "hon",
           "vid", "från", "för", "på", "medan", "efter"),
    "da": ("og", "det", "ikke", "som", "til", "med", "han", "hun", "efter",
           "hvor", "ved", "blev", "af", "på", "mens"),
    "ro": ("și", "să", "nu", "din", "este", "sunt", "care", "pentru",
           "după", "când", "în", "că", "cu", "dar", "unde"),
    # NB no single-letter tokens anywhere in the table: Polish "w"/"z"
    # are high-frequency but standalone 'w'/'z' also occur in English
    # enumerations ("options w, x, y, z"), which would flip predictions
    # and wrongly DROP allowed documents (review-found); multi-letter
    # function words carry the discrimination instead
    "pl": ("nie", "się", "jest", "ale", "jak", "tak", "przez", "tym",
           "być", "oraz", "że", "dla", "już", "aby", "przed"),
    # Round-6 Latin-script extension (VERDICT r5 #2, toward langdetect's
    # ~55-language breadth — reference normalize.py:46-54). Same
    # discipline as the r5 rows: no token that is high-frequency in
    # ANOTHER table language's natural text unless that language
    # already owns it (shared tokens count for both owners). Norwegian
    # is the hard row — bokmål shares most function words with Danish —
    # so its profile leans on no-specific SPELLINGS (etter/mellom/
    # gjennom/hva/noen/seg vs da efter/mellem/gennem/hvad/nogen/sig).
    "no": ("etter", "mellom", "gjennom", "hva", "noen", "seg", "gjøre",
           "vært", "bare", "ikke", "være", "eller", "også", "mye", "når"),
    "fi": ("ja", "ei", "että", "mutta", "hän", "oli", "kun", "myös",
           "niin", "kanssa", "jälkeen", "tämä", "ovat", "sekä", "kuin"),
    "cs": ("že", "jsou", "byl", "jako", "však", "jsem", "podle", "které",
           "když", "ještě", "může", "být", "pro", "této", "ale"),
    "hu": ("és", "nem", "hogy", "egy", "az", "van", "volt", "meg", "már",
           "csak", "mint", "még", "vagy", "lehet", "minden"),
    # no Turkish "var": JS/C# source text ("var x = …") would cross-fire
    # on it while hitting few English stopwords
    "tr": ("bir", "ve", "bu", "için", "ile", "olarak", "daha", "çok",
           "ama", "gibi", "sonra", "kadar", "olan", "değil", "ancak"),
    # no Indonesian "di" (Italian's most frequent preposition would
    # cross-fire), same reason the r5 rows dropped Dutch "de"/"en"
    "id": ("yang", "dan", "untuk", "dengan", "ini", "itu", "tidak",
           "dari", "akan", "pada", "adalah", "dalam", "juga", "atau",
           "sebagai"),
    "vi": ("và", "của", "có", "không", "được", "trong", "người",
           "những", "với", "này", "cho", "các", "là", "đã", "một"),
}

# single-tokenization scorer: because every stopword is a pure word-char
# token, \b-delimited matching over the lowered snippet is equivalent to
# exact-matching \w+ tokens — one regex pass + dict lookups instead of six
# full scans (a token shared by several languages counts for each, exactly
# as the per-language findall did)
_TOKEN_RE = re.compile(r"\w+")
_TOKEN_LANGS: dict[str, tuple[str, ...]] = {}
for _lang, _words in STOPWORDS.items():
    for _w in _words:
        _TOKEN_LANGS.setdefault(_w, ())
        _TOKEN_LANGS[_w] = _TOKEN_LANGS[_w] + (_lang,)


def language_scores(text: str) -> dict[str, int]:
    """Stopword-hit counts per language over the first 5000 chars."""
    snippet = text[:5000].lower()
    scores = dict.fromkeys(STOPWORDS, 0)
    for token in _TOKEN_RE.findall(snippet):
        langs = _TOKEN_LANGS.get(token)
        if langs:
            for lang in langs:
                scores[lang] += 1
    return scores


# ---------------------------------------------------------------------------
# Script-range stage (round 6). Stopword profiles cannot cover languages
# whose scripts have no whitespace-delimited function words (CJK) or
# where one findall table per language would balloon; a character-class
# census routes those the way langdetect's n-gram profiles do, with a
# within-script discriminator where one script serves several table
# languages (Cyrillic ru/uk, Arabic-script ar/fa, Han/kana zh/ja).
# Counting uses findall lengths (C-speed single scans); the snippet's
# dominant-script rule is: route to the largest non-Latin script class
# iff it holds more letters than Latin does — mixed/quoted text with a
# Latin majority still goes through the stopword scorer.
_LATIN_RE = re.compile(r"[A-Za-zÀ-ɏ]")
_SCRIPT_RES: dict[str, re.Pattern] = {
    "cyrillic":   re.compile(r"[Ѐ-ӿ]"),
    "arabic":     re.compile(r"[؀-ۿ]"),
    "greek":      re.compile(r"[Ͱ-Ͽ]"),
    "hebrew":     re.compile(r"[֐-׿]"),
    "devanagari": re.compile(r"[ऀ-ॿ]"),
    "thai":       re.compile(r"[฀-๿]"),
    "hangul":     re.compile(r"[가-힯ᄀ-ᇿ]"),
    "kana":       re.compile(r"[぀-ヿ]"),
    "han":        re.compile(r"[一-鿿]"),
}
# single-language scripts resolve directly…
_SCRIPT_LANG = {"greek": "el", "hebrew": "he", "devanagari": "hi",
                "thai": "th", "hangul": "ko"}
#: languages the script census can return (the table's non-Latin half)
SCRIPT_LANGS = frozenset(
    {"zh", "ja", "ru", "uk", "ar", "fa", *_SCRIPT_LANG.values()})


def supported_languages() -> frozenset[str]:
    """Every code detect_language can return (stopword + script rows)."""
    return frozenset(STOPWORDS) | SCRIPT_LANGS
# …multi-language scripts by letters EXCLUSIVE to one orthography:
# uk і/ї/є/ґ vs ru ы/э/ъ/ё; fa پ/چ/ژ/گ added to the base Arabic alphabet
_UK_RE = re.compile(r"[іїєґ]")
_RU_RE = re.compile(r"[ыэъё]")
_FA_RE = re.compile(r"[پچژگ]")

# every _SCRIPT_RES class starts at U+0370 (Greek) or above; a snippet
# with no codepoint ≥ U+0370 therefore has every script count at 0 and
# _script_language provably returns None (max(0, 0) <= latin for any
# latin ≥ 0). One C-speed search replaces ten findall scans — the
# accented-Latin corpus majority (non-ASCII but Latin-script) pays only
# this probe (r7: the ten scans were 40% of the default pipeline
# kernel's regex time).
_NONLATIN_PROBE = re.compile("[Ͱ-\U0010FFFF]")


def _script_language(snippet: str) -> str | None:
    """Non-Latin routing, or None when Latin letters dominate."""
    if _NONLATIN_PROBE.search(snippet) is None:
        return None
    latin = len(_LATIN_RE.findall(snippet))
    counts = {s: len(p.findall(snippet)) for s, p in _SCRIPT_RES.items()}
    # Japanese mixes Han and kana in one text: they vote as one class,
    # then ANY kana marks ja (Chinese text contains none)
    cjk = counts["han"] + counts["kana"]
    best = max(counts, key=lambda s: (counts[s], s))
    if max(counts[best], cjk) <= latin:
        return None
    if cjk >= counts[best] and cjk > latin:
        return "ja" if counts["kana"] > 0 else "zh"
    if best == "cyrillic":
        return "uk" if (len(_UK_RE.findall(snippet))
                        > len(_RU_RE.findall(snippet))) else "ru"
    if best == "arabic":
        return "fa" if _FA_RE.search(snippet) else "ar"
    return _SCRIPT_LANG[best]


def detect_language(text: str) -> str | None:
    """Best-scoring language, ties broken alphabetically; None if no hits.

    Non-Latin-dominant text routes through the script census first (the
    all-ASCII fast path skips the census entirely — the common case in
    the transcript corpus pays one ``str.isascii`` check)."""
    if not text:
        return None
    snippet = text[:5000]
    if not snippet.isascii():
        by_script = _script_language(snippet.lower())
        if by_script is not None:
            return by_script
    scores = language_scores(text)
    best_lang = min(
        scores, key=lambda lang: (-scores[lang], lang)
    )
    return best_lang if scores[best_lang] > 0 else None
