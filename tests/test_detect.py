"""Detector coverage: every field-sampler branch must round-trip
through the detector on clean (noise-free) text, and hard negatives
must stay label-free (FIXTURES.md §3 coverage contract)."""

import numpy as np
import pytest

from pii_spark.detect.candidates import detect_spans
from pii_spark.detect.scrub import scrub_text
from pii_spark.detect.serving import serve_doc
from pii_spark.textgrammar import fields as Fz
from pii_spark.textgrammar.generator import hard_negative_strings, rng_for
from pii_spark.textgrammar.noise import obfuscate_email, obfuscate_phone


def _detect_labels(text):
    return {(c.label) for c in detect_spans(text)}


def _covers(text, value, label):
    """Detector finds a span of `label` overlapping `value` in text."""
    pos = text.index(value)
    for c in detect_spans(text):
        if c.label == label and c.start < pos + len(value) and c.end > pos:
            return True
    return False


SAMPLERS = [
    ("EMAIL", Fz.sample_email, "Contact: {v}"),
    ("PHONE", Fz.sample_phone, "Phone: {v}"),
    ("SSN", Fz.sample_ssn, "SSN: {v}"),
    ("CREDIT_CARD", Fz.sample_credit_card, "card {v} was charged"),
    ("DATE", Fz.sample_date, "DOB: {v}, thanks"),
    ("AGE", Fz.sample_age, "My brother is {v} years old"),
    ("PERSON", Fz.sample_person, "Username: {v}, welcome"),
    ("ORG", Fz.sample_org, "Invoice to {v}, attention"),
    ("ADDRESS", Fz.sample_address, "Ship to {v} for delivery"),
]


@pytest.mark.parametrize("label,sampler,template", SAMPLERS)
def test_sampler_coverage(label, sampler, template):
    hits = 0
    n = 150
    for i in range(n):
        v = sampler(rng_for(1234, i))
        text = template.format(v=v)
        if _covers(text, v, label):
            hits += 1
    # clean text, explicit context: near-total coverage required
    assert hits >= 0.93 * n, f"{label}: {hits}/{n}"


def test_obfuscated_emails_covered():
    for i in range(80):
        rng = rng_for(99, i)
        v = obfuscate_email(rng, Fz.sample_email(rng))
        assert _covers(f"hmu at {v} ok", v, "EMAIL"), v


def test_obfuscated_phones_covered():
    hits = 0
    for i in range(80):
        rng = rng_for(98, i)
        v = obfuscate_phone(rng, Fz.sample_phone(rng))
        hits += _covers(f"call me: {v} ok", v, "PHONE")
    assert hits >= 72


def test_hard_negatives_not_labeled():
    """GUID/MAC/SHA1/invalid-card/@handle/Ref/Acct stay label-free;
    IPv4 is scrubbed as IP but never as one of the 9 entity labels."""
    bad = 0
    for i in range(120):
        for s in hard_negative_strings(rng_for(55, i)):
            labels = _detect_labels(s) - {"IP"}
            if labels:
                bad += 1
    assert bad <= 6  # ≤0.5% leak over 1200 hard negatives


def test_confidence_threshold_gates_weak_candidates():
    # serving drops sub-0.3 candidates (model_evaluation.py:259-269):
    # a weak uppercase-initials hit without person context scores 0.28
    res = serve_doc("QZ 12345 something")
    assert all(lab != "PERSON" for lab, *_ in res.entities)


def test_scrub_placeholders_and_idempotence():
    text = "Contact john.smith@gmail.com or 555-123-4567."
    res = serve_doc(text)
    scrubbed = scrub_text(text, res.entities)
    assert "[EMAIL]" in scrubbed and "[PHONE]" in scrubbed
    assert "john.smith" not in scrubbed and "555-123" not in scrubbed
    res2 = serve_doc(scrubbed)
    assert scrub_text(scrubbed, res2.entities) == scrubbed  # idempotent


def test_scrub_preserves_non_span_bytes():
    text = "Hello SSN: 123-45-6789 world"
    res = serve_doc(text)
    scrubbed = scrub_text(text, res.entities)
    assert scrubbed.startswith("Hello SSN: ") and scrubbed.endswith(" world")


def test_detector_deterministic():
    rng = np.random.default_rng(5)
    for i in range(50):
        ex_text = f"Contact user{i} at a{i}@gmail.com or 555-123-{1000+i}"
        assert detect_spans(ex_text) == detect_spans(ex_text)


def test_fallback_path_scrubs_ip(monkeypatch):
    """ADVICE r1 (high): with the head artifact absent (the supported
    --files-not-shipped fallback), IP spans must still be scrubbed.
    B-IP/U-IP are not in the 37-label space, so routing IP candidates
    through the logit matrix silently drops them."""
    from pii_spark.detect import serving

    monkeypatch.setattr(serving, "_HEAD_W", None)
    monkeypatch.setattr(serving, "_HEAD_TRIED", True)
    assert serving._head_weights() is None
    text = "server at 192.168.10.44 and mail a.b@gmail.com"
    res = serving.serve_doc(text)
    scrubbed = scrub_text(text, res.entities)
    assert "[IP]" in scrubbed and "192.168.10.44" not in scrubbed
    assert "[EMAIL]" in scrubbed


def test_digit_free_prefilter():
    """format_candidates' digit prefilter: digit-free text still detects
    digit-free forms (obfuscated email), and by construction no numeric
    family can fire without a digit."""
    from pii_spark.detect.candidates import format_candidates

    text = "reach me at jane dot doe at gmail dot com thanks"
    labs = {c.label for c in format_candidates(text)}
    assert "EMAIL" in labs
    assert not labs & {"SSN", "PHONE", "CREDIT_CARD", "DATE", "AGE", "IP"}
    # canonical email with digits around still fully detected
    text2 = "mail jane.doe2@gmail.com ssn 123-45-6789 on 01/02/1999"
    labs2 = {c.label for c in format_candidates(text2)}
    assert {"EMAIL", "SSN", "DATE"} <= labs2


def test_email_domain_prefilter():
    """r9: the EMAIL sections are gated by a closed-vocabulary domain
    stem probe — every _DOM branch is reachable through a stem, so a
    doc with any (possibly case-scrambled) domain still detects, and a
    domain-free doc provably cannot match either EMAIL pattern."""
    from pii_spark.detect.candidates import (
        _EMAIL_DOMAIN_STEMS,
        format_candidates,
    )
    from pii_spark.detect.patterns import _DOM

    # soundness of the stem list: every _DOM alternative contains a stem
    doms = _DOM.strip("(?:)").split("|")
    for d in doms:
        assert any(s in d for s in _EMAIL_DOMAIN_STEMS), d
    # typo-chain + case-scrambled domains still detected
    for t in ("write jane.doe@gmial.con please",
              "reach bob dot smith at YAHOOO dot com now",
              "x PROTONMAIL: amy_9@protonmail.com y"):
        assert any(c.label == "EMAIL" for c in format_candidates(t)), t
    # domain-free text with an '@' handle: no EMAIL (gate or not)
    assert not any(c.label == "EMAIL"
                   for c in format_candidates("ping @sara.henry today"))


def test_month_date_prefilter():
    """r9: the _MONTH-led DATE scans are gated by a 12-stem month probe —
    every _MONTH alternative starts with a stem, so a stem-free doc
    provably cannot match, and month-bearing docs detect identically."""
    import re

    from pii_spark.detect.candidates import _DATE_MONTH_RX, _MONTH_STEMS
    from pii_spark.detect.candidates import format_candidates
    from pii_spark.detect.patterns import _MONTH, DATE_PATTERNS

    # soundness: every _MONTH alternative begins with one of the stems
    alts = _MONTH.strip("(?:)").split("|")
    for a in alts:
        assert any(a.startswith(s) for s in _MONTH_STEMS), a
    # the gated set is exactly the patterns embedding _MONTH
    month_led = {id(rx) for rx, _ in DATE_PATTERNS
                 if re.search(r"january", rx.pattern)}
    assert month_led == set(_DATE_MONTH_RX)
    # month dates (full, abbreviated, case-scrambled) still detected
    for t in ("born May 15th, 1990 ok", "due 23rd June 1958 x",
              "seen SEPTEMBER/4 there", "paid jan 2021 already"):
        assert any(c.label == "DATE" for c in format_candidates(t)), t
    # stem-free docs keep their digit-led dates
    t = "id 1999-07-23 and 12/05/1998 end"
    assert sum(c.label == "DATE" for c in format_candidates(t)) >= 2


def test_tok_mask_bits_equivalence():
    """r9: _gaz_bits (one combined word->bitmask pass) must agree with
    the seven independent _gaz_span_rel scans it replaced, for every
    token of a generated corpus slice."""
    import pii_spark.detect.candidates as C
    from pii_spark.textgrammar.generator import build_example

    def old_bits(text, low):
        m = 0
        if (C._gaz_span_rel(text, low, C.CITY_1)
                or C._gaz_span_rel(text, low, C.COUNTRY_1)
                or C._gaz_span_rel(text, low, C.STATE_1)):
            m |= C.B_PLACE1
        if C._gaz_span_rel(text, low, C.STREET_FIRSTS):
            m |= C.B_STREET
        if C._gaz_span_rel(text, low, C._UNIT_WORDS):
            m |= C.B_UNIT
        if (C._org_anchor_rel(text, low) is not None
                or C._gaz_span_rel(text, low, C.LASTS)):
            m |= C.B_ORG
        if C._gaz_span_rel(text, low, C.FIRSTS):
            m |= C.B_FIRSTS
        return m

    seen = set()
    for i in range(800):
        for tk in C._toks(build_example(7, 500_000 + i)["text"]):
            if tk.text in seen:
                continue
            seen.add(tk.text)
            new = C._gaz_bits(tk.text, tk.low)
            if not new & C.B_ORG and C._org_anchor_rel(tk.text, tk.low) is not None:
                new |= C.B_ORG
            assert new == old_bits(tk.text, tk.low), tk.text
    assert len(seen) > 3000
