"""Detector grammar tests.

The (text, expected mentions) pairs are the data of the reference's
``tests/reference_detection/test_regex_reference_detector.py``.
"""

from inclusionreferenceskg_spark.functions.grammar import detect


CASES = [
    ("awd Article 1 dw", ["Article 1"]),
    ("dw Article 1(1) dwa", ["Article 1(1)"]),
    ("af Articles 1, 2 and 3 dwa", ["Articles 1, 2 and 3"]),
    ("d Articles 8, 11, 25 to 39 and 42 and 43 d",
     ["Articles 8, 11, 25 to 39 and 42 and 43"]),
    ("The obligation laid down in paragraph 1 of this Article shall not apply ",
     ["paragraph 1 of this Article"]),
    ("by the Member States when carrying out activities which fall within the "
     "scope of Chapter 2 of Title V of the TEU",
     ["Chapter 2 of Title V of the TEU"]),
    ("subsidiarity as set out in Article 5 of the Treaty on European Union",
     ["Article 5 of the Treaty on European Union"]),
    ("This Regulation shall be without prejudice to the application of "
     "Directive 2000/31/EC, in particular of the liability rules of "
     "intermediary service providers in Articles 12 to 15 of that Directive.",
     ["This Regulation", "Directive 2000/31/EC",
      "Articles 12 to 15 of that Directive"]),
    ("Regulation (EC) No 45/2001 applies. Regulation (EC) No 45/2001 and "
     "other Union legal acts applicable to such processing of personal data "
     "shall be adapted to the principles and rules of this Regulation in "
     "accordance with Article 98",
     ["Regulation (EC) No 45/2001", "Regulation (EC) No 45/2001",
      "this Regulation", "Article 98"]),
    ("ipursuant to Article 45(3) of this Regulation and decisions adopted on "
     "the basis of Article 25(6) of Directive 95/46/EC;",
     ["Article 45(3) of this Regulation", "Article 25(6) of Directive 95/46/EC"]),
]


def test_detector_golden_cases():
    for text, expected in CASES:
        got = [m["text"] for m in detect(text)]
        assert got == expected, (text, got, expected)


def test_detector_offsets():
    text = "awd Article 1 dw"
    (m,) = detect(text)
    assert m["start"] == 4
    assert text[m["start"]:m["start"] + len(m["text"])] == m["text"]


#: adversarial page shapes for the detector regex; a backtracking blow-up
#: on any of them turns one MB-sized page into a stalled task
ADVERSARIAL = {
    "dense_citations": "Article 5(1)(a), Articles 8 and 9 of Regulation "
                       "(EU) 2016/679, ",
    "repeated_paragraph_of": "paragraph 1 of Article ",
    "one_long_word": "x",
    "digit_paren_soup": "(1)(2(3)4)((5)6(7",
    "repeated_point_of": "point (a) of paragraph 2, ",
}


def _best_detect_secs(text: str) -> float:
    import time
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        detect(text)
        best = min(best, time.perf_counter() - t0)
    return best


def test_detector_linear_time():
    """detect() scales linearly on adversarial input: 10x the chars may
    cost at most 30x the time (linear reads ~10, quadratic ~100)."""
    for name, unit in ADVERSARIAL.items():
        secs = {}
        for n in (20_000, 200_000):
            text = (unit * (n // len(unit) + 1))[:n]
            secs[n] = _best_detect_secs(text)
        ratio = secs[200_000] / secs[20_000]
        assert ratio <= 30, (name, secs, ratio)
