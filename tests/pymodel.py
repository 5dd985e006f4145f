"""Pure-Python executable model of the reference semantics (main.cc:33-172).

~25 lines, used as a property oracle in tests: independent of both Spark and
DuckDB, simple enough to verify by eye against SURVEY.md §1.6.
"""

from __future__ import annotations

import re
import string

# C-locale isspace: `fin >> word` splits on these six bytes only (main.cc:73),
# where str.split() also breaks on NBSP, \x1c-\x1f and other Unicode spaces
_C_SPACE = re.compile(r"[ \t\n\v\f\r]+")
_NON_LETTER = re.compile(r"[^a-z]")
# C-locale ::tolower maps A-Z only (main.cc:75), where str.lower() also maps
# the Kelvin sign to "k" and U+0130 to "i" plus a combining dot
_ASCII_LOWER = str.maketrans(string.ascii_uppercase, string.ascii_lowercase)


def normalize(token: str) -> str:
    """lower A-Z (main.cc:75) then strip non-[a-z] (main.cc:33-42)."""
    return _NON_LETTER.sub("", token.translate(_ASCII_LOWER))


def words(text: str) -> list[str]:
    """The document's words in order: split, normalize, empty words dropped."""
    return [w for w in map(normalize, _C_SPACE.split(text)) if w]


def inverted_index(docs: dict[int, str]) -> dict[str, list[int]]:
    """word -> ascending distinct doc ids."""
    postings: dict[str, set[int]] = {}
    for doc_id, text in docs.items():
        for word in words(text):
            postings.setdefault(word, set()).add(doc_id)
    return {w: sorted(ids) for w, ids in postings.items()}


def letter_file_rows(postings: dict[str, list[int]], letter: str) -> list[tuple[str, list[int]]]:
    """Rows of <letter>.txt in reference order: len DESC, word ASC (main.cc:148-156)."""
    rows = [(w, ids) for w, ids in postings.items() if w.startswith(letter)]
    return sorted(rows, key=lambda r: (-len(r[1]), r[0]))
