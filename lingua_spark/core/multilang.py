"""Multi-language section detection (detectMultiLanguageOf, U3).

Faithful re-expression of the reference's 5-phase pipeline
(`internal/MultiLanguageDetection.kt:15-38`):

1. W1 split into potential sections at script changes (Japanese scripts
   unified), quotes, colon, line breaks, apostrophe heuristic; min 3
   letters per section (`:183-242`).
2. W2 per-section rule detection + merge of adjacent sections with the
   same single rule language (`:270-315`).
3. W3 short-section absorption: sections < 15 letters conditionally merged
   into neighbors using confidence comparisons; minConfidence =
   0.6 + min(1, letters/40) * 0.38 (`:143-147,378-430,462-511`).
4. W4 final merge of adjacent sections sharing high-confidence languages,
   previous-vs-next tie resolution (`:432-460,516-556`).
5. Map to result sections.

Inherently sequential per text (merge decisions depend on neighbors);
data-parallel across rows via the pandas UDF in engine.udfs.
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass, field

import numpy as np

from .. import langdata as L
from ..uniscript import SCRIPT_ID, cat_ids, codes_of, is_letter, script_ids
from .detector import decide_confidences
from .rules import UNKNOWN_ORD, rules_batch
from .text import is_logogram_char

MIN_SECTION_LENGTH = 3  # letters (MultiLanguageDetection.kt:185)
MIN_RELIABLE_LETTERS = 15  # (:469)
MIN_LETTERS_DEFINITE_CONFIDENCE = 40.0  # (:145)

_HIRAGANA = SCRIPT_ID["HIRAGANA"]
_KATAKANA = SCRIPT_ID["KATAKANA"]
_HAN = SCRIPT_ID["HAN"]

_BOUNDARY_CHARS = frozenset(
    ":\n\r\x0b\x0c\x85\""
    "«»‘‛“”„‟‹›⹂"
    "⌜⌝❛❜❝❞「」『』"
    "〝〞〟﹁﹂﹃﹄＂＇｢｣"
)
_APOSTROPHES = frozenset("'’")
_BOUNDARY_CATEGORIES = frozenset({"Pi", "Pf", "Zl", "Zp"})


def _is_japanese_script(sid: int) -> bool:
    return sid in (_HIRAGANA, _KATAKANA, _HAN)


def _same_language_script(a: int, b: int) -> bool:
    return a == b or (_is_japanese_script(a) and _is_japanese_script(b))


def is_potential_language_boundary(ch: str, prev: str, nxt: str) -> bool:
    if ch in _BOUNDARY_CHARS:
        return True
    if ch in _APOSTROPHES:
        return not (is_letter(prev) and is_letter(nxt)) if prev and nxt else True
    return unicodedata.category(ch) in _BOUNDARY_CATEGORIES


@dataclass
class Section:
    start: int  # first letter, inclusive
    end: int  # last letter, exclusive
    letters_count: int
    full_text: str
    rule_languages: set[str] = field(default_factory=set)
    _confidences: list[tuple[str, float]] | None = None

    def text(self) -> str:
        return self.full_text[self.start : self.end]

    def contains_non_letter(self) -> bool:
        return self.letters_count != self.end - self.start

    def min_confidence(self) -> float:
        return 0.6 + (
            min(1.0, self.letters_count / MIN_LETTERS_DEFINITE_CONFIDENCE) * 0.38
        )

    def merge_with(self, other: "Section") -> None:
        assert other.end > self.end
        self.end = other.end
        self.letters_count += other.letters_count
        self._confidences = None

    def can_be_merged_with(self, other: "Section") -> bool:
        # Don't merge if the next section's language is already decided;
        # require overlap otherwise (MultiLanguageDetection.kt:253-258).
        return len(other.rule_languages) != 1 and bool(
            other.rule_languages & self.rule_languages
        )

    def confidences(self, detector) -> list[tuple[str, float]]:
        if self._confidences is None:
            self._confidences = detector.confidence_values(self.text())
        return self._confidences

    def relevant_languages(self, detector) -> set[str]:
        mc = self.min_confidence()
        out: set[str] = set()
        for lang, conf in self.confidences(detector):
            if conf >= mc:
                out.add(lang)
            else:
                break  # descending order
        return out


def split_potential_sections(text: str) -> list[Section]:
    """W1: char scan producing (start, end, letters_count) sections."""
    codes = codes_of(text)
    cats = cat_ids(codes)
    sids = script_ids(codes)
    logos = is_logogram_char(codes)
    letters = cats == 1

    sections: list[Section] = []
    start = -1
    end = -1
    last_script = -1
    letters_count = 0
    has_logograms = False

    for i in range(len(text)):
        if letters[i]:
            script = int(sids[i])
            if start == -1:
                start = i
            elif (
                (has_logograms or letters_count >= MIN_SECTION_LENGTH)
                and last_script != -1
                and not _same_language_script(last_script, script)
            ):
                sections.append(Section(start, i, letters_count, text))
                start = i
                letters_count = 0
                has_logograms = False
            end = i + 1
            last_script = script
            letters_count += 1
            has_logograms = has_logograms or bool(logos[i])
        elif (
            letters_count >= MIN_SECTION_LENGTH
            and start != -1
            and is_potential_language_boundary(
                text[i],
                text[i - 1] if i > 0 else "\x00",
                text[i + 1] if i + 1 < len(text) else "\x00",
            )
        ):
            sections.append(Section(start, end, letters_count, text))
            start = -1
            letters_count = 0
            has_logograms = False

    if start != -1:
        sections.append(Section(start, end, letters_count, text))
    return sections


def _sections_with_rule_languages(text: str, detector) -> list[Section]:
    """W2: rule detection of every potential section, one ``rules_batch``
    call over the text's sections, then the same-single-language merge."""
    sections = split_potential_sections(text)
    if not sections:
        return []
    rule_ords, masks = rules_batch(
        [s.text() for s in sections], detector.languages
    )
    out: list[Section] = []
    for section, o, mask in zip(sections, rule_ords, masks):
        if o != UNKNOWN_ORD:
            langs = {L.LANGUAGES[o].name}
        else:
            langs = {L.LANGUAGES[i].name for i in np.flatnonzero(mask)}
        prev = out[-1] if out else None
        if (
            len(langs) == 1
            and prev is not None
            and len(prev.rule_languages) == 1
            and next(iter(prev.rule_languages)) == next(iter(langs))
        ):
            prev.merge_with(section)
        else:
            section.rule_languages = langs
            out.append(section)
    return out


def _should_merge_short_section(
    current: Section, nxt: Section, previous: Section | None, detector
) -> bool:
    """W3 decision (MultiLanguageDetection.kt:462-511)."""
    if current.letters_count >= MIN_RELIABLE_LETTERS or not (
        current.can_be_merged_with(nxt)
    ):
        return False
    if (
        nxt.letters_count >= MIN_RELIABLE_LETTERS
        and current.letters_count >= 5
        and current.contains_non_letter()
    ):
        cur_confs = dict(detector.confidence_values(current.text()))
        min_conf = current.min_confidence()
        next_ordered = detector.confidence_values(nxt.text())
        next_confs = dict(next_ordered)
        min_next_conf = nxt.min_confidence()

        common = [lg for lg, c in cur_confs.items() if c > min_conf]
        if all(next_confs.get(lg, 0.0) < min_next_conf for lg in common):
            return False

        if previous is not None:
            prev_confs = previous.confidences(detector)
            if prev_confs and next_ordered:
                next_top = next_ordered[0][0]
                prev_top = prev_confs[0][0]
                return cur_confs.get(next_top, 0.0) >= cur_confs.get(prev_top, 0.0)
    return True


def _sections_with_confidences(text: str, detector) -> list[Section]:
    """W3: short-section absorption + per-section confidence computation."""
    sections = _sections_with_rule_languages(text, detector)
    out: list[Section] = []
    index = 0
    while index < len(sections):
        section = sections[index]
        if len(section.rule_languages) == 1:
            section._confidences = [(next(iter(section.rule_languages)), 1.0)]
            out.append(section)
        else:
            while index < len(sections) - 1:
                nxt = sections[index + 1]
                prev = out[-1] if out else None
                if _should_merge_short_section(section, nxt, prev, detector):
                    section.merge_with(nxt)
                    section.rule_languages |= nxt.rule_languages
                    index += 1
                else:
                    break
            section._confidences = detector.confidence_values(section.text())
            out.append(section)
        index += 1
    return out


def _can_merge_confidence_sections(
    current: Section, previous: Section, nxt: Section | None, detector
) -> bool:
    """W4 predicate (MultiLanguageDetection.kt:516-556)."""
    cur_rel = current.relevant_languages(detector)
    prev_rel = previous.relevant_languages(detector)
    prev_cur = cur_rel & prev_rel
    if not prev_cur:
        return False
    if nxt is None:
        return True
    next_rel = nxt.relevant_languages(detector)
    cur_next = cur_rel & next_rel
    if not cur_next:
        return True
    if prev_rel & next_rel:
        return True
    cur_confs = dict(current.confidences(detector))
    prev_avg = float(np.mean([cur_confs[lg] for lg in prev_cur]))
    next_avg = float(np.mean([cur_confs[lg] for lg in cur_next]))
    return prev_avg > next_avg


def detect_multi_language(text: str, detector) -> list[dict]:
    """Full pipeline; returns LanguageSection dicts
    (start, end, letters_count, text, lang, confidences)."""
    sections = _sections_with_confidences(text, detector)
    if not sections:
        return []
    merged: list[Section] = [sections[0]]
    i = 1
    while i < len(sections):
        section = sections[i]
        nxt = sections[i + 1] if i + 1 < len(sections) else None
        if _can_merge_confidence_sections(section, merged[-1], nxt, detector):
            merged[-1].merge_with(section)
        else:
            merged.append(section)
        i += 1

    results = []
    for s in merged:
        confs = s.confidences(detector)
        lang = decide_confidences(confs, detector.minimum_relative_distance)[0]
        results.append(
            {
                "start": s.start,
                "end": s.end,
                "letters_count": s.letters_count,
                "text": s.text(),
                "lang": lang,
                "confidences": dict(confs),
            }
        )
    return results
