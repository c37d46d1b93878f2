"""Porter2 (Snowball English) stemmer, pure Python.

Implemented from the published Snowball English stemmer definition
(snowballstem.org/algorithms/english/stemmer.html). The reference engine
stems with the surgebase/porter2 Go library (/root/reference/parser/
parser.go:187), which implements the same algorithm; byte-fidelity is
asserted by golden-pair tests in tests/test_porter2.py.

This single implementation is shared by: the Spark pandas UDF
(functions/stem_udf.py), driver-side query parsing, and the pandas
oracle — so engine and oracle can never disagree on token forms.
"""

from __future__ import annotations

import functools

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDING = frozenset("cdeghkmnrt")

_EXCEPTIONS1 = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

_EXCEPTIONS2 = frozenset(
    ["inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed"]
)


def _regions(word: str) -> tuple[int, int]:
    """Return (r1, r2) start offsets."""
    n = len(word)
    r1 = n
    # special prefixes: R1 begins right after them
    for pre in ("gener", "commun", "arsen"):
        if word.startswith(pre):
            r1 = len(pre)
            break
    else:
        for i in range(1, n):
            if word[i] not in _VOWELS and word[i - 1] in _VOWELS:
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if word[i] not in _VOWELS and word[i - 1] in _VOWELS:
            r2 = i + 1
            break
    return r1, r2


def _ends_short_syllable(word: str) -> bool:
    """True if word ends in a short syllable."""
    n = len(word)
    if n == 2:
        return word[0] in _VOWELS and word[1] not in _VOWELS
    if n >= 3:
        c1, v, c2 = word[-3], word[-2], word[-1]
        return (
            v in _VOWELS
            and c2 not in _VOWELS
            and c2 not in "wxY"
            and c1 not in _VOWELS
        )
    return False


def _is_short(word: str, r1: int) -> bool:
    return r1 >= len(word) and _ends_short_syllable(word)


def stem(word: str) -> str:  # noqa: C901 - algorithm is inherently branchy
    """Stem a single lowercase token with the Snowball English algorithm."""
    if len(word) <= 2:
        return word

    if word[0] == "'":
        word = word[1:]
        if len(word) <= 2:
            return word

    exc = _EXCEPTIONS1.get(word)
    if exc is not None:
        return exc

    # mark consonant-y: y at start or after a vowel
    chars = list(word)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
    word = "".join(chars)

    r1, r2 = _regions(word)

    # Step 0: apostrophe suffixes
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # Step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith("ied") or word.endswith("ies"):
        word = word[:-2] if len(word) > 4 else word[:-1]
    elif word.endswith("ss") or word.endswith("us"):
        pass
    elif word.endswith("s"):
        # delete if the preceding word part contains a vowel not
        # immediately before the s
        if any(word[i] in _VOWELS for i in range(len(word) - 2)):
            word = word[:-1]

    if word in _EXCEPTIONS2:
        return word

    # Step 1b
    if word.endswith("eedly"):
        if len(word) - 5 >= r1:
            word = word[:-3]
    elif word.endswith("eed"):
        if len(word) - 3 >= r1:
            word = word[:-1]
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem_part = word[: -len(suf)]
                if any(c in _VOWELS for c in stem_part):
                    word = stem_part
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word.endswith(_DOUBLES):
                        word = word[:-1]
                    elif _is_short(word, r1):
                        word += "e"
                break

    # Step 1c: replace suffix y/Y by i if preceded by a non-vowel which is
    # not the first letter of the word
    if (
        len(word) > 2
        and word[-1] in "yY"
        and word[-2] not in _VOWELS
    ):
        word = word[:-1] + "i"

    # Step 2 (longest suffix, condition: in R1)
    step2 = (
        ("ization", "ize"),
        ("ational", "ate"),
        ("fulness", "ful"),
        ("ousness", "ous"),
        ("iveness", "ive"),
        ("tional", "tion"),
        ("biliti", "ble"),
        ("lessli", "less"),
        ("entli", "ent"),
        ("ation", "ate"),
        ("alism", "al"),
        ("aliti", "al"),
        ("ousli", "ous"),
        ("iviti", "ive"),
        ("fulli", "ful"),
        ("enci", "ence"),
        ("anci", "ance"),
        ("abli", "able"),
        ("izer", "ize"),
        ("ator", "ate"),
        ("alli", "al"),
        ("bli", "ble"),
        ("ogi", None),  # special: -> og if preceded by l
        ("li", None),  # special: delete if preceded by valid li-ending
    )
    for suf, rep in step2:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                if suf == "ogi":
                    if len(word) >= 4 and word[-4] == "l":
                        word = word[:-1]
                elif suf == "li":
                    if len(word) >= 3 and word[-3] in _LI_ENDING:
                        word = word[:-2]
                else:
                    word = word[: -len(suf)] + rep
            break

    # Step 3 (condition: in R1; ative requires R2)
    step3 = (
        ("ational", "ate"),
        ("tional", "tion"),
        ("alize", "al"),
        ("icate", "ic"),
        ("iciti", "ic"),
        ("ative", ""),
        ("ical", "ic"),
        ("ness", ""),
        ("ful", ""),
    )
    for suf, rep in step3:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                if suf == "ative":
                    if len(word) - 5 >= r2:
                        word = word[:-5]
                else:
                    word = word[: -len(suf)] + rep
            break

    # Step 4 (condition: in R2)
    step4 = (
        "ement",
        "ance",
        "ence",
        "able",
        "ible",
        "ment",
        "ant",
        "ent",
        "ism",
        "ate",
        "iti",
        "ous",
        "ive",
        "ize",
        "ion",
        "al",
        "er",
        "ic",
    )
    for suf in step4:
        if word.endswith(suf):
            if len(word) - len(suf) >= r2:
                if suf == "ion":
                    if len(word) >= 4 and word[-4] in "st":
                        word = word[:-3]
                else:
                    word = word[: -len(suf)]
            break

    # Step 5
    if word.endswith("e"):
        if len(word) - 1 >= r2:
            word = word[:-1]
        elif len(word) - 1 >= r1 and not _ends_short_syllable(word[:-1]):
            word = word[:-1]
    elif word.endswith("l"):
        if len(word) - 1 >= r2 and len(word) >= 2 and word[-2] == "l":
            word = word[:-1]

    return word.replace("Y", "y")


@functools.lru_cache(maxsize=1 << 16)
def stem_cached(word: str) -> str:
    return stem(word)
