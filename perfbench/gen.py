"""Seeded page generator owned by the benchmark.

The benchmark does not call ``inclusionreferenceskg_spark.synth``: an edit
there would silently change every workload.  Pages here depend only on
``(seed, doc_id, version)`` and the workload's fixed sizes, so the same seed
always gives byte-identical pages (pinned in ``pins.json``).

The sentence grammar follows the synthetic EU-regulation shape (chapters,
articles, numbered paragraphs, points, indents, an Official-Journal header
line and a soft hyphen) and adds a seeded share of
``<object> referred to in Article N`` clauses, the shape that feeds the L3
(reference) linker.  ``prose_block`` writes reference-free English, the
mention-free text that dominates real web pages.
"""

from __future__ import annotations

import datetime
import hashlib
import random
from typing import Dict, List, Sequence

SUBJECTS = (
    "The controller", "The processor", "The supervisory authority",
    "The provider", "The member state", "The commission", "The operator",
    "The data subject",
)
VERBS = (
    ("shall maintain", "a record of processing activities"),
    ("shall notify", "the competent authority"),
    ("shall adopt", "appropriate technical measures"),
    ("shall ensure", "the security of the service"),
    ("may request", "additional information"),
    ("shall not process", "the personal data"),
    ("shall publish", "an annual report"),
    ("shall designate", "a representative"),
)
L3_OBJECTS = ("the measures", "the records", "the information",
              "the safeguards", "the conditions")
POINT_CLAUSES = (
    "processed lawfully and fairly",
    "collected for specified purposes",
    "adequate and relevant",
    "accurate and kept up to date",
    "kept in an identifiable form",
    "secured against unlawful processing",
)

# Prose vocabulary: no node names (article, chapter, point, ...), no
# document words (regulation, directive, treaty, ...) and no upper-case
# acronyms, so the reference detector finds nothing in it.
PROSE_SUBJECTS = (
    "the committee", "our volunteers", "the local council", "many visitors",
    "the new library", "a small team", "the museum staff", "local farmers",
    "the school board", "several neighbours", "the city planners",
    "the weather service",
)
PROSE_VERBS = (
    "reviewed", "discussed", "welcomed", "planned", "described", "improved",
    "organised", "repaired", "visited", "recommended", "questioned",
    "celebrated",
)
PROSE_OBJECTS = (
    "the annual budget", "a quiet garden", "the summer festival",
    "the old bridge", "several reading groups", "the morning market",
    "a longer opening schedule", "the river walk", "new bicycle lanes",
    "the harvest fair", "a photography exhibition", "the winter forecast",
)
PROSE_TAILS = (
    "after a long afternoon of careful debate",
    "with help from friends and family",
    "because the previous season was unusually busy",
    "while children played near the fountain",
    "before the first snow arrived in the valley",
    "and everyone agreed to meet again soon",
    "although some people preferred to stay at home",
    "as the evening light faded over the hills",
)

PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang", "title",
                "doc_rank")


def doc_title(doc_id: int) -> str:
    return f"Regulation (EU) No {doc_id + 1}/2016"


def doc_url(doc_id: int) -> str:
    return f"https://bench.example/reg/{doc_id}"


def _sentence(rng: random.Random, doc_id: int, n_docs: int,
              article: int, l3_share: float) -> str:
    subj = rng.choice(SUBJECTS)
    if rng.random() < l3_share:
        return (f"{subj} shall keep {rng.choice(L3_OBJECTS)} referred to in "
                f"Article {rng.randrange(1, 7)}.")
    verb, obj = rng.choice(VERBS)
    sentence = f"{subj} {verb} {obj}"
    if rng.random() < 0.7:
        kind = rng.randrange(6)
        if kind == 0:
            sentence += (f" in accordance with Article {rng.randrange(1, 7)}"
                         f"({rng.randrange(1, 4)})")
        elif kind == 1:
            sentence += (f" as referred to in paragraph {rng.randrange(1, 3)}"
                         f" of Article {rng.randrange(1, 7)}")
        elif kind == 2:
            sentence += " pursuant to this Regulation"
        elif kind == 3:
            other = (doc_id * 31 + article * 7 + 1) % n_docs
            sentence += (f" subject to Article {rng.randrange(1, 7)} of "
                         f"{doc_title(other)}")
        elif kind == 4:
            sentence += (f" under Articles {rng.randrange(1, 3)} to "
                         f"{rng.randrange(3, 7)}")
        else:
            sentence += " as set out in this Article"
    return sentence + "."


def prose_block(rng: random.Random, n_sentences: int) -> str:
    """Reference-free prose of ``n_sentences`` sentences."""
    out = []
    for _ in range(n_sentences):
        s = (f"{rng.choice(PROSE_SUBJECTS)} {rng.choice(PROSE_VERBS)} "
             f"{rng.choice(PROSE_OBJECTS)} {rng.choice(PROSE_TAILS)}.")
        out.append(s[0].upper() + s[1:])
    return " ".join(out)


def doc_text(seed: int, doc_id: int, n_docs: int, version: int = 0,
             l3_share: float = 0.15, prose_blocks: int = 0,
             prose_sentences: int = 0) -> str:
    """One document body; ``version`` > 0 is a recrawled, edited copy.
    Each numbered paragraph is followed by ``prose_blocks`` blocks of
    ``prose_sentences`` sentences of reference-free prose; the parser
    makes each block a subparagraph node of its own."""
    rng = random.Random(f"{seed}:{doc_id}:{version}")
    blocks: List[str] = []
    article_no = 0
    for ch in (1, 2):
        blocks.append(f"CHAPTER {'I' * ch}")
        blocks.append(f"Chapter heading {ch}")
        blocks.append(
            "4.5.2016 L 119/1 Official Journal of the European Union EN")
        for _ in range(3):
            article_no += 1
            blocks.append(f"Article {article_no}")
            blocks.append(f"Subject matter {article_no}")
            for para in (1, 2):
                blocks.append(f"{para}. " + _sentence(
                    rng, doc_id, n_docs, article_no, l3_share))
                for _ in range(prose_blocks):
                    blocks.append(prose_block(rng, prose_sentences))
                if para == 1 and article_no % 2 == 0:
                    for p in range(rng.randrange(2, 4)):
                        blocks.append(f"({chr(ord('a') + p)}) "
                                      f"{POINT_CLAUSES[p]};")
                if article_no % 5 == 0 and para == 2:
                    blocks.append("- the first indent item,")
                    blocks.append("- the second indent item;")
    blocks.append("Final pro­visions apply from the date of entry "
                  "into force.")
    return "\n\n".join(blocks)


def page_row(doc_id: int, text: str) -> Dict:
    ts = (datetime.datetime(2016, 5, 4, tzinfo=datetime.timezone.utc)
          + datetime.timedelta(seconds=doc_id))
    html = f"<html><body><pre>{text[:200]}</pre></body></html>"
    return {"url": doc_url(doc_id), "warc_ts": ts,
            "html": html.encode("utf-8"), "text": text,
            "lang": "en" if doc_id % 17 else "de",
            "title": doc_title(doc_id), "doc_rank": doc_id}


def pages(seed: int, doc_ids: Sequence[int], n_docs: int,
          versions: Dict[int, int] = None, **text_kw) -> List[Dict]:
    versions = versions or {}
    return [page_row(d, doc_text(seed, d, n_docs, versions.get(d, 0),
                                 **text_kw))
            for d in doc_ids]


def pages_digest(rows: Sequence[Dict]) -> str:
    """sha256 over the page rows, in url order."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: r["url"]):
        for c in PAGE_COLUMNS:
            v = r[c]
            h.update(v if isinstance(v, bytes) else str(v).encode("utf-8"))
            h.update(b"\x1f")
        h.update(b"\x1e")
    return h.hexdigest()


def recrawl(seed: int, n_base: int, changed_share: float,
            new_share: float, **text_kw):
    """(base pages, delivery pages, changed doc ids, new doc ids).

    The delivery repeats every base url, with a seeded ``changed_share``
    edited in place, and adds ``new_share`` unseen urls.  Both snapshots
    are drawn from one universe of ``n_base + n_new`` documents, so an
    unchanged url has byte-identical text in both."""
    n_new = max(1, round(n_base * new_share))
    n_all = n_base + n_new
    rng = random.Random(f"{seed}:recrawl")
    changed = sorted(rng.sample(range(n_base),
                                max(1, round(n_base * changed_share))))
    base = pages(seed, range(n_base), n_all, **text_kw)
    delivery = pages(seed, range(n_all), n_all,
                     versions={d: 1 for d in changed}, **text_kw)
    return base, delivery, changed, list(range(n_base, n_all))
