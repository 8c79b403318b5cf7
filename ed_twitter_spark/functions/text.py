"""Scalar text operators (SURVEY.md §2.2 P1-P5, §2.8).

All are pure and deterministic; the Spark path applies them inside
Arrow-batched pandas UDFs (never per-row Python UDFs). Reference cites:

* tokenizer: ``RegexpTokenizer(r'\\w+')`` + unidecode transliteration,
  `deep-ed-pytorch/utils/utils.py:24-26`. We vendor a small ASCII fold
  table instead of the unidecode package (not installed here).
* stopword/number filter (`is_important_word`): `mulrel-nel/nel/utils.py:44-52`.
* entity-name normalization: `ent_name_id.py:105-115`.
* mention normalization (`preprocess_mention`): `yago_crosswikis_wiki.py:82-95`.
* uppercase-phrase title-casing: `utils/utils.py:17-21`.
"""

from __future__ import annotations

import re

# --- stopword list (public list shipped with mulrel-nel, nel/utils.py:7-41) --
STOPWORDS = frozenset(
    """a about above across after afterwards again against all almost alone along
already also although always am among amongst amoungst amount an and another any
anyhow anyone anything anyway anywhere are around as at back be became because
become becomes becoming been before beforehand behind being below beside besides
between beyond both bottom but by call can cannot cant dont co con could couldnt
cry de describe detail do done down due during each eg eight either eleven else
elsewhere empty enough etc even ever every everyone everything everywhere except
few fifteen fify fill find fire first five for former formerly forty found four
from front full further get give go had has hasnt have he hence her here
hereafter hereby herein hereupon hers herself him himself his how however hundred
i ie if in inc indeed interest into is it its itself keep last latter latterly
least less ltd made many may me meanwhile might mill mine more moreover most
mostly move much must my myself name namely neither never nevertheless next nine
no nobody none noone nor not nothing now nowhere of off often on once one only
onto or other others otherwise our ours ourselves out over own part per perhaps
please put rather re same see seem seemed seeming seems serious several she
should show side since sincere six sixty so some somehow someone something
sometime sometimes somewhere still such system take ten than that the their them
themselves then thence there thereafter thereby therefore therein thereupon
these they thick thin third this those though three through throughout thru thus
to together too top toward towards twelve twenty two un under until up upon us
very via was we well were what whatever when whence whenever where whereafter
whereas whereby wherein whereupon wherever whether which while whither who
whoever whole whom whose why will with within without would yet you your yours
yourself yourselves st years new used known year later including end did just
best using""".split()
)

_WORD_RE = re.compile(r"\w+", re.UNICODE)

# Minimal deterministic ASCII fold for the Latin-1 range (stand-in for
# unidecode; identical output for pure-ASCII input, which is what both the
# synthetic corpus and the Twitter eval set are overwhelmingly made of).
_TRANSLIT_SRC = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_TRANSLIT_DST = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"
_TRANSLIT = str.maketrans(_TRANSLIT_SRC, _TRANSLIT_DST)


def split_in_words(s: str) -> list[str]:
    """P3 tokenizer: \\w+ token spans, transliterated."""
    return [w.translate(_TRANSLIT) for w in _WORD_RE.findall(s or "")]


def is_important_word(s: str) -> bool:
    """P4: not a stopword, not a number, len > 1 (nel/utils.py:44-52)."""
    if s is None or len(s) <= 1 or s.lower() in STOPWORDS:
        return False
    try:
        float(s)
        return False
    except ValueError:
        return True


def first_letter_to_uppercase(s: str) -> str:
    if len(s) < 1:
        return s
    return s[0].upper() + s[1:]


def modify_uppercase_phrase(s: str) -> str:
    """All-caps phrases get title-cased, others pass through (utils.py:17-21)."""
    return s.title() if s == s.upper() else s


def preprocess_ent_name(name: str, redirects: dict[str, str] | None = None) -> str:
    """P1 entity-name normalization (ent_name_id.py:105-115)."""
    n = name.strip().replace("&amp;", "&").replace("&quot;", '"').replace("_", " ")
    n = first_letter_to_uppercase(n)
    if redirects:
        n = redirects.get(n, n)
    return n


def preprocess_mention(
    m: str,
    total_freq: dict[str, int],
    lower_to_upper: dict[str, str],
    known: set[str] | None = None,
) -> str:
    """P2 mention normalization with frequency tie-break
    (yago_crosswikis_wiki.py:82-95). ``known`` is the alias-table key set
    (defaults to total_freq's keys)."""
    known = known if known is not None else total_freq.keys()
    cur = modify_uppercase_phrase(m)
    if cur not in known:
        cur = m
    if total_freq.get(m, 0) > total_freq.get(cur, 0):
        cur = m
    if cur not in known and cur.lower() in lower_to_upper:
        cur = lower_to_upper[cur.lower()]
    return cur


# --- P5: literal \\uXXXX escape repair (full reference table) --------------
# The reference ships a 523-entry escape→character table used when parsing
# YAGO aida_means entity names (`deep-ed-pytorch/utils/utils.py:36-167`,
# applied at `data_gen/gen_p_e_m/gen_p_e_m_from_yago.py:64-79`). The table
# is exactly {\\uXXXX: chr(0xXXXX)} except two entries — U+030D maps to
# U+02BC (modifier apostrophe) and U+00A0 (nbsp) maps to the empty string —
# so it is vendored as the code set + exceptions, bit-identical to the
# reference dict. The reference's '%'→'%%' quirk (its output feeds
# %-formatting) is kept for output parity; codes outside the table are left
# intact (the reference raises there).
# lowercase hex only: the reference's find/replace matches its literal
# lowercase \uXXXX table keys, so an uppercase escape (É) is left
# intact there — and must be left intact here too
_ESC_RE = re.compile(r"\\u[0-9a-f]{4}")
_ESC_EXCEPTIONS = {0x030D: "\u02bc", 0x00A0: ""}
UNICODE_ESCAPE_CODES: frozenset[int] = frozenset([
    0x0021, 0x0022, 0x0023, 0x0024, 0x0025, 0x0026, 0x0027, 0x0028, 0x0029, 0x002a, 0x002b, 0x002c,
    0x002d, 0x002e, 0x002f, 0x003a, 0x003b, 0x003c, 0x003d, 0x003e, 0x003f, 0x0040, 0x005b, 0x005c,
    0x005e, 0x0060, 0x007b, 0x007d, 0x007e, 0x00a0, 0x00a1, 0x00a2, 0x00a3, 0x00a7, 0x00a9, 0x00aa,
    0x00ab, 0x00b0, 0x00b1, 0x00b2, 0x00b3, 0x00b4, 0x00b5, 0x00b7, 0x00b9, 0x00ba, 0x00bb, 0x00bc,
    0x00bd, 0x00be, 0x00bf, 0x00c0, 0x00c1, 0x00c2, 0x00c3, 0x00c4, 0x00c5, 0x00c6, 0x00c7, 0x00c8,
    0x00c9, 0x00ca, 0x00cb, 0x00cc, 0x00cd, 0x00ce, 0x00cf, 0x00d0, 0x00d1, 0x00d2, 0x00d3, 0x00d4,
    0x00d5, 0x00d6, 0x00d7, 0x00d8, 0x00d9, 0x00da, 0x00dc, 0x00dd, 0x00de, 0x00df, 0x00e0, 0x00e1,
    0x00e2, 0x00e3, 0x00e4, 0x00e5, 0x00e6, 0x00e7, 0x00e8, 0x00e9, 0x00ea, 0x00eb, 0x00ec, 0x00ed,
    0x00ee, 0x00ef, 0x00f0, 0x00f1, 0x00f2, 0x00f3, 0x00f4, 0x00f5, 0x00f6, 0x00f8, 0x00f9, 0x00fa,
    0x00fb, 0x00fc, 0x00fd, 0x00fe, 0x00ff, 0x0100, 0x0101, 0x0102, 0x0103, 0x0104, 0x0105, 0x0106,
    0x0107, 0x0108, 0x0109, 0x010a, 0x010b, 0x010c, 0x010d, 0x010e, 0x010f, 0x0110, 0x0111, 0x0112,
    0x0113, 0x0115, 0x0116, 0x0117, 0x0118, 0x0119, 0x011a, 0x011b, 0x011c, 0x011d, 0x011e, 0x011f,
    0x0120, 0x0121, 0x0122, 0x0123, 0x0124, 0x0126, 0x0127, 0x0129, 0x012a, 0x012b, 0x012c, 0x012d,
    0x0130, 0x0131, 0x0134, 0x0136, 0x0137, 0x013b, 0x013c, 0x013d, 0x013e, 0x0141, 0x0142, 0x0143,
    0x0144, 0x0145, 0x0146, 0x0147, 0x0148, 0x0149, 0x014b, 0x014c, 0x014d, 0x014e, 0x014f, 0x0150,
    0x0151, 0x0152, 0x0153, 0x0155, 0x0158, 0x0159, 0x015a, 0x015b, 0x015c, 0x015e, 0x015f, 0x0160,
    0x0161, 0x0162, 0x0163, 0x0164, 0x0165, 0x0169, 0x016a, 0x016b, 0x016c, 0x016d, 0x016f, 0x0171,
    0x0173, 0x0175, 0x0177, 0x0179, 0x017a, 0x017b, 0x017c, 0x017d, 0x017e, 0x0181, 0x0182, 0x0184,
    0x0187, 0x018a, 0x018b, 0x018f, 0x0191, 0x0196, 0x0197, 0x0198, 0x019d, 0x019f, 0x01a1, 0x01a4,
    0x01a7, 0x01ac, 0x01b0, 0x01b1, 0x01b2, 0x01b3, 0x01b8, 0x01bc, 0x01c0, 0x01c1, 0x01c2, 0x01c3,
    0x01ce, 0x01d0, 0x01d2, 0x01d4, 0x01e5, 0x01e6, 0x01e8, 0x01eb, 0x01f4, 0x01f5, 0x0218, 0x0219,
    0x021b, 0x0220, 0x0226, 0x0259, 0x026a, 0x0283, 0x02b9, 0x02bb, 0x02bc, 0x02be, 0x02bf, 0x0301,
    0x0303, 0x030d, 0x0324, 0x0327, 0x0328, 0x0329, 0x0358, 0x0391, 0x0392, 0x0393, 0x0394, 0x0395,
    0x0398, 0x0399, 0x039a, 0x039b, 0x039c, 0x03a0, 0x03a1, 0x03a3, 0x03a5, 0x03a6, 0x03a7, 0x03a9,
    0x03b1, 0x03b2, 0x03b3, 0x03b4, 0x03b5, 0x03ba, 0x03bc, 0x03bd, 0x03c0, 0x03c3, 0x03c8, 0x03c9,
    0x03d5, 0x041a, 0x041f, 0x0420, 0x0421, 0x0422, 0x0430, 0x0431, 0x0432, 0x0433, 0x0435, 0x043a,
    0x043b, 0x043c, 0x043d, 0x043e, 0x043f, 0x0440, 0x0442, 0x0443, 0x0444, 0x0446, 0x0457, 0x045b,
    0x04a4, 0x0627, 0x0628, 0x0629, 0x062a, 0x062f, 0x0631, 0x0632, 0x0633, 0x0635, 0x0639, 0x0640,
    0x0641, 0x0643, 0x0644, 0x0645, 0x0646, 0x0648, 0x064a, 0x064e, 0x06a9, 0x06af, 0x06c1, 0x06cc,
    0x0917, 0x091f, 0x092e, 0x092f, 0x0930, 0x0937, 0x0939, 0x093e, 0x0940, 0x094d, 0x0967, 0x0969,
    0x1e0c, 0x1e0d, 0x1e0e, 0x1e24, 0x1e25, 0x1e2a, 0x1e31, 0x1e33, 0x1e34, 0x1e35, 0x1e43, 0x1e45,
    0x1e46, 0x1e47, 0x1e49, 0x1e5a, 0x1e5b, 0x1e5f, 0x1e62, 0x1e63, 0x1e6c, 0x1e6d, 0x1e6e, 0x1e6f,
    0x1e80, 0x1e92, 0x1e93, 0x1e94, 0x1ea1, 0x1ea2, 0x1ea3, 0x1ea5, 0x1ea7, 0x1ea8, 0x1ea9, 0x1eab,
    0x1ead, 0x1eaf, 0x1eb1, 0x1eb5, 0x1eb7, 0x1ebb, 0x1ebc, 0x1ebd, 0x1ebf, 0x1ec1, 0x1ec3, 0x1ec5,
    0x1ec7, 0x1ec9, 0x1ecb, 0x1ecc, 0x1ecd, 0x1ecf, 0x1ed1, 0x1ed3, 0x1ed5, 0x1ed7, 0x1ed9, 0x1edb,
    0x1edd, 0x1edf, 0x1ee3, 0x1ee5, 0x1ee7, 0x1ee9, 0x1eeb, 0x1eed, 0x1eef, 0x1ef1, 0x1ef3, 0x1ef6,
    0x1ef7, 0x1ef9, 0x200e, 0x2010, 0x2011, 0x2012, 0x2013, 0x2014, 0x2018, 0x2019, 0x201c, 0x201d,
    0x2020, 0x2022, 0x2026, 0x2032, 0x2033, 0x203a, 0x203c, 0x2075, 0x207a, 0x207f, 0x2080, 0x20ac,
    0x2103, 0x2116, 0x2122, 0x2153, 0x2192, 0x2202, 0x2212, 0x221a, 0x221e, 0x2260, 0x2605, 0x2606,
    0x2661, 0x2665, 0x266d, 0x266f, 0x2c6b, 0x301c, 0x30e8, 0x30fb, 0x4e09, 0x4e45, 0x4eba, 0x4fdd,
    0x5229, 0x529f, 0x55f7, 0x58eb, 0x5957, 0x5b58, 0x5baa, 0x6176, 0x6536, 0x65f6, 0x6625, 0x674e,
    0x6768, 0x6a5f, 0x6bba, 0x6c38, 0x7248, 0x738b, 0x73cd, 0x7433, 0x745e, 0x79d2, 0x82e5, 0x85cf,
    0x8650, 0x884c, 0x89d2, 0x8fdb, 0x95a2, 0x9752, 0x9910, 0x9ece, 0xa784, 0xac00, 0xb8e8, 0xb9c8,
    0xc2a4, 0xfb01, 0xfb02, 0xff08, 0xff09, 0xff0d, 0xff5e,
])


def repair_unicode_escapes(s: str) -> str:
    """P5: replace literal ``\\uXXXX`` escapes via the vendored table.

    Single-pass regex substitution — equivalent to the reference's
    find/replace-all loop because no replacement ever introduces a new
    ``\\u`` sequence (property-tested against a direct transcription of
    the loop in tests/test_properties.py)."""

    def _sub(m: re.Match) -> str:
        code = int(m.group(0)[2:], 16)
        if code not in UNICODE_ESCAPE_CODES:
            return m.group(0)
        rep = _ESC_EXCEPTIONS.get(code, chr(code))
        return "%%" if rep == "%" else rep

    return _ESC_RE.sub(_sub, s or "")
