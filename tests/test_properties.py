"""Property-based tests (SURVEY.md §5.4): scrub invariants, chunking
invariance, mask length rules — over generated adversarial inputs."""

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from pii_detection_redaction_spark.core import analyze, analyze_long_text, scrub_document
from pii_detection_redaction_spark.core.scrub import mask_spans, select_nonoverlapping
from pii_detection_redaction_spark.core.spans import Detection

# text with embedded PII-ish fragments
_frag = st.sampled_from(
    [
        "tfn 123-456-789",
        "abn 51 824 753 556",
        "bob.smith@ex.com",
        "0412 345 678",
        "4242 4242 4242 4242",
        "Hello James Walker",
        "NSW 2000",
        "10.0.0.1",
        "2025-03-04",
        "plain words here",
        "",
    ]
)
_texts = st.lists(_frag, min_size=0, max_size=12).map(lambda xs: " and ".join(xs))


@given(_texts)
@settings(max_examples=60, deadline=None)
def test_selected_spans_never_overlap(text):
    kept = select_nonoverlapping(analyze(text))
    for a, b in zip(kept, kept[1:]):
        assert a.end <= b.start


def _select_quadratic(results):
    """The score-first greedy as first written: probe every accepted span."""
    ordered = sorted(results, key=lambda d: (-d.score, d.start, d.end, d.entity_type))
    accepted = []
    for d in ordered:
        if all(not (d.start < a.end and a.start < d.end) for a in accepted):
            accepted.append(d)
    accepted.sort(key=lambda d: d.start)
    return accepted


# small coordinates and few scores/types force ties, shared starts and
# zero-width spans (width 0 is drawn as often as any other width)
_span_sets = st.lists(
    st.builds(
        lambda t, s, w, sc: Detection(t, s, s + w, sc),
        st.sampled_from("ABC"),
        st.integers(0, 30),
        st.integers(0, 6),
        st.sampled_from([0.3, 0.5, 0.5, 0.85, 1.0]),
    ),
    max_size=40,
)


@given(_span_sets)
@settings(max_examples=400, deadline=None)
def test_select_nonoverlapping_equals_quadratic_probe(dets):
    assert select_nonoverlapping(dets) == _select_quadratic(dets)


@given(_texts)
@settings(max_examples=60, deadline=None)
def test_scrub_deterministic_and_removes_values(text):
    dets = analyze(text)
    out1 = scrub_document(text, dets)
    out2 = scrub_document(text, dets)
    assert out1 == out2
    for d in select_nonoverlapping(dets):
        value = text[d.start : d.end]
        # high-confidence long values must not survive verbatim
        if d.score >= 0.6 and len(value) >= 8:
            assert value not in out1


@given(_texts, st.integers(min_value=40, max_value=200))
@settings(max_examples=40, deadline=None)
def test_chunking_invariance(text, size):
    """Same detections for any chunk size, given overlap >= max entity len
    (reference overlap semantics, chunker.py:19-26)."""
    base = [d.as_tuple() for d in analyze(text)]
    chunked = [d.as_tuple() for d in analyze_long_text(text, size=size, overlap=39)]
    if len(text) <= size:
        assert chunked == base


@given(st.text(alphabet=string.ascii_letters + " ", min_size=0, max_size=300),
       st.integers(min_value=1, max_value=250))
@settings(max_examples=60, deadline=None)
def test_mask_length_rule(text, span_len):
    """Mask op: '*' x min(len, 100) + preserved remainder (C12)."""
    if not text:
        return
    end = min(span_len, len(text))
    d = [Detection("X", 0, end, 1.0)]
    out = mask_spans(text, d)
    assert len(out) == len(text)
    k = min(end, 100)
    assert out[:k] == "*" * k
    assert out[end:] == text[end:]


@given(_texts)
@settings(max_examples=30, deadline=None)
def test_scrub_idempotent_property(text):
    dets = analyze_long_text(text)
    once = scrub_document(text, dets)
    twice = scrub_document(once, analyze_long_text(once))
    assert once == twice


_tox_frag = st.sampled_from(
    [
        "this is bullshit",
        "a shitty day",
        "BULLSHIT!",
        "shitakemushroom",  # substring, must NOT match
        "bull shit",        # split words: only 'shit' matches
        "plain words here",
        "Fucking-hyphенated",
        "",
    ]
)
_tox_texts = st.lists(
    st.one_of(_tox_frag, st.text(alphabet=string.printable, max_size=30)),
    min_size=0,
    max_size=8,
).map(lambda xs: " ".join(xs))


@given(_tox_texts)
@settings(max_examples=80, deadline=None)
def test_toxicity_mask_properties(text):
    from pii_detection_redaction_spark.core.toxicity import (
        TOXIC_MASK,
        mask_toxicity,
        toxicity_hits,
        toxicity_spans,
    )

    masked = mask_toxicity(text)
    # masking removes every hit and is idempotent
    assert toxicity_hits(masked) == 0
    assert mask_toxicity(masked) == masked
    # hit-free text passes through byte-identically
    if toxicity_hits(text) == 0:
        assert masked == text
    # span count == mask-insert count (no pre-existing masks in generated text)
    if TOXIC_MASK not in text:
        assert masked.count(TOXIC_MASK) == len(toxicity_spans(text))


_name_first = st.sampled_from(["Jane", "Walter", "Mary", "Olivia", "Henry"])
_name_last = st.sampled_from(["Doe", "Plinge", "Quant", "Baker", "Ford"])
_filler_word = st.sampled_from(
    ["the", "report", "was", "filed", "on", "time", "and", "sent", "to", "all"]
)
_filler = st.lists(_filler_word, min_size=3, max_size=12).map(" ".join)


@given(_name_first, _name_last, _filler, _filler)
@settings(max_examples=40, deadline=None)
def test_repeated_name_propagation_properties(first, last, f1, f2):
    """Invariants of the repeated-name machinery: every propagated span is a
    case-insensitive variant of a detected person name, never overlaps
    another detection, and the scrubbed output contains no bare occurrence
    of any detected name."""
    import re

    from pii_detection_redaction_spark.core.chunker import analyze_long_text
    from pii_detection_redaction_spark.core.entities import PERSON_TYPES
    from pii_detection_redaction_spark.core.recognizers import name_variants
    from pii_detection_redaction_spark.core.scrub import scrub_document
    from pii_detection_redaction_spark.core.spans import spans_overlap

    name = f"{first} {last}"
    text = (
        f"Dr {name} arrived. {f1}. "
        f"Later {name.lower()} spoke, then {last}, {first} signed. {f2}."
    )
    dets = analyze_long_text(text)
    persons = [d for d in dets if d.entity_type in PERSON_TYPES]
    assert persons, text
    variants = set()
    for d in persons:
        if d.entity_type != "REPEATED_NAME":
            variants.update(name_variants(text[d.start : d.end]))
    for d in dets:
        if d.entity_type != "REPEATED_NAME":
            continue
        # 1. every propagated span is a known variant (case-insensitive)
        assert text[d.start : d.end].lower() in variants, text[d.start : d.end]
        # 2. no overlap with any other detection
        for e in dets:
            if e is not d:
                assert not spans_overlap(d.start, d.end, e.start, e.end)
    # 3. the scrub leaves no bare occurrence of the full name
    out = scrub_document(text, dets)
    assert not re.search(re.escape(name), out, re.IGNORECASE), out


@given(st.text(alphabet=string.ascii_letters + " .,:;", max_size=60),
       st.integers(0, 60), st.integers(0, 60))
@settings(max_examples=120, deadline=None)
def test_trim_person_span_properties(text, a, b):
    """trim_person_span never widens beyond the label-colon rule, always
    lands inside the original text, and is idempotent."""
    from pii_detection_redaction_spark.core.recognizers import trim_person_span

    s, e = sorted((min(a, len(text)), min(b, len(text))))
    ts, te = trim_person_span(text, s, e)
    assert 0 <= ts <= len(text) and te <= e  # end only ever shrinks
    if te > ts:
        ts2, te2 = trim_person_span(text, ts, te)
        assert (ts2, te2) == (ts, te)  # idempotent on its own output


# --- corpus-level boilerplate stripping (core.quality spec) ---------------

_line = st.sampled_from(
    ["copyright footer", "nav menu", "  spaced  ", "unique %d", "", "x y z",
     "cookie banner accept", "\tkeep tab"]
)
_doc = st.lists(_line, min_size=0, max_size=6).map(lambda ls: "\n".join(ls))
_corpus = st.lists(_doc, min_size=0, max_size=12)


@given(_corpus, st.integers(min_value=2, max_value=4))
@settings(max_examples=60, deadline=None)
def test_boilerplate_strip_idempotent(docs, min_docs):
    """Stripping is a fixpoint: after removing every occurrence of each hot
    line, surviving lines keep their original doc counts (all below the
    threshold, else they'd have been hot), so a second pass with a
    recomputed hot set removes nothing."""
    from pii_detection_redaction_spark.core.quality import (
        boilerplate_line_set,
        strip_boilerplate,
    )

    hot1 = boilerplate_line_set(docs, min_docs)
    once = [strip_boilerplate(t, hot1)[0] for t in docs]
    hot2 = boilerplate_line_set(once, min_docs)
    twice = [strip_boilerplate(t, hot2) for t in once]
    assert all(removed == 0 for _, removed in twice)
    assert [t for t, _ in twice] == once


@given(_corpus, st.integers(min_value=2, max_value=4))
@settings(max_examples=60, deadline=None)
def test_boilerplate_strip_only_removes_hot_lines(docs, min_docs):
    from pii_detection_redaction_spark.core.quality import (
        boilerplate_line_set,
        strip_boilerplate,
    )

    hot = boilerplate_line_set(docs, min_docs)
    for t in docs:
        cleaned, removed = strip_boilerplate(t, hot)
        # every kept line's trimmed form is cold; counts reconcile
        assert all(ln.strip(" ") not in hot for ln in cleaned.split("\n"))
        assert removed == sum(1 for ln in t.split("\n") if ln.strip(" ") in hot)


# --- repetition metrics bounds (core.quality spec) -------------------------

_rep_text = st.text(
    alphabet=string.ascii_lowercase + " \n.", min_size=0, max_size=300
)


@given(_rep_text)
@settings(max_examples=80, deadline=None)
def test_repetition_metric_bounds(text):
    """dup_line_char_frac in [0, 1); top-n-gram fraction in [0, n] (a word
    participates in up to n n-grams, so the top gram's char mass can exceed
    the corpus char count by at most that factor)."""
    from pii_detection_redaction_spark.core.quality import repetition_metrics

    m = repetition_metrics(text)
    assert 0.0 <= m["dup_line_char_frac"] < 1.0 or m["dup_line_char_frac"] == 0.0
    assert 0.0 <= m["top_bigram_char_frac"] <= 2.0
    assert 0.0 <= m["top_trigram_char_frac"] <= 3.0


# --- URL canonicalization ----------------------------------------------------

_url_path = st.text(
    alphabet=string.ascii_letters + string.digits + "/-_.", max_size=30
)
_url_query = st.lists(
    st.tuples(
        st.sampled_from(["id", "page", "q", "utm_source", "utm_campaign",
                         "gclid", "fbclid", "ref"]),
        st.text(alphabet=string.ascii_lowercase + string.digits, max_size=8),
    ),
    max_size=5,
)


@given(
    st.sampled_from(["http", "https"]),
    st.text(alphabet=string.ascii_letters + string.digits + ".-", min_size=1,
            max_size=20),
    st.sampled_from(["", ":80", ":443", ":8080"]),
    _url_path,
    _url_query,
    st.sampled_from(["", "#frag", "#a/b?c"]),
)
@settings(max_examples=200, deadline=None)
def test_canonicalize_url_properties(scheme, host, port, path, query, frag):
    from pii_detection_redaction_spark.core.urlnorm import canonicalize_url

    qs = "&".join(f"{k}={v}" for k, v in query)
    url = f"{scheme}://{host}{port}/{path}" + (f"?{qs}" if qs else "") + frag
    c = canonicalize_url(url)
    # idempotent: canonical form is a fixpoint
    assert canonicalize_url(c) == c
    # no fragment, no tracking params, no dangling separators survive
    assert "#" not in c
    for t in ("utm_", "gclid=", "fbclid=", "&ref=", "?ref="):
        assert t not in c
    assert not c.endswith(("?", "&", "/"))
    # real params survive with their values
    for k, v in query:
        if k in ("id", "page", "q") and v:
            assert f"{k}={v}" in c
    # the authority is lowercased, default ports stripped
    assert c.split("/")[2] == c.split("/")[2].lower()
    assert not c.split("/")[2].endswith((":80", ":443"))


# --- exact-substring dedup spec properties -----------------------------------

_span = st.tuples(st.integers(0, 200), st.integers(0, 60)).map(
    lambda t: (t[0], t[0] + t[1])
)


@given(st.lists(_span, max_size=25))
@settings(max_examples=80, deadline=None)
def test_merge_spans_properties(spans):
    from pii_detection_redaction_spark.core.exsub import merge_spans

    merged = merge_spans(spans)
    # disjoint (strictly separated), sorted, same covered set
    for (a1, b1), (a2, b2) in zip(merged, merged[1:]):
        assert b1 < a2
    covered = {i for s, e in spans for i in range(s, e)}
    assert {i for s, e in merged for i in range(s, e)} == covered


@given(st.text(alphabet=string.ascii_lowercase + " ", max_size=120),
       st.lists(_span, max_size=8))
@settings(max_examples=80, deadline=None)
def test_excise_length_arithmetic(text, spans):
    from pii_detection_redaction_spark.core.exsub import excise, merge_spans

    spans = [(min(s, len(text)), min(e, len(text))) for s, e in spans]
    clean, removed = excise(text, spans)
    assert len(clean) == len(text) - removed
    assert removed == sum(e - s for s, e in merge_spans(spans))
    # kept characters appear in original order
    it = iter(text)
    assert all(c in it for c in clean) or clean == ""


@given(st.lists(st.text(alphabet=string.ascii_lowercase + " ./:", min_size=1,
                        max_size=40), min_size=1, max_size=60),
       st.integers(32, 512), st.integers(1, 4))
@settings(max_examples=60, deadline=None)
def test_bloom_never_false_negative(keys, m, k):
    from pii_detection_redaction_spark.core.bloom import build_bitmap, might_contain

    bits = build_bitmap(keys, m=m, k=k)
    assert all(might_contain(key, bits, m=m, k=k) for key in keys)


@given(st.integers(0, 10**12), st.integers(1, 10**12))
@settings(max_examples=120, deadline=None)
def test_budget_threshold_properties(budget, total):
    from pii_detection_redaction_spark.core.sampling import budget_threshold

    t = budget_threshold(budget, total)
    if total <= budget:
        assert t == "g"  # keep-all sentinel sorts above every hex ticket
    else:
        assert len(t) == 4 and int(t, 16) <= 0xFFFF
        # monotone: a bigger budget never keeps fewer rows
        t2 = budget_threshold(min(budget * 2, total), total)
        assert t2 == "g" or t2 >= t


@given(st.floats(0.0, 1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_hex_threshold_never_widens(rate):
    """Regression: rates just under 1.0 used to round to 16^d, whose hex
    spelling is FIVE chars ('10000') — lexicographically keeping only ~6%
    of 4-char tickets. The round-to-keep-all case must hit the sentinel."""
    from pii_detection_redaction_spark.core.sampling import HEX_DIGITS, hex_threshold

    t = hex_threshold(rate)
    assert t == "g" or len(t) == HEX_DIGITS


def test_hex_threshold_near_one_keeps_everything():
    from pii_detection_redaction_spark.core.sampling import hex_threshold, keep_row

    assert hex_threshold(0.999995) == "g"
    kept = sum(keep_row(str(i), 0.999995) for i in range(2000))
    assert kept == 2000


@given(st.text(alphabet=string.printable + "é漢\x0b", max_size=300))
@settings(max_examples=150, deadline=None)
def test_ocr_words_properties(text):
    """core.ocr.ocr_words invariants: words are the maximal non-whitespace
    runs in order, offsets index the OCR text exactly, the OCR text is the
    single-space join, and the geometry stays on the glyph grid."""
    from pii_detection_redaction_spark.core import ocr as O

    ocr_text, words = O.ocr_words(text)
    assert ocr_text == " ".join(w for w, _, _ in words)
    for w, cs, ce in words:
        assert w and ce - cs == len(w)
        assert ocr_text[cs:ce] == w
        assert not any(c in O.WS_CHARS for c in w)
        left, top, bw, bh = O.word_box(cs, ce)
        assert left >= O.OCR_MARGIN_PX and top >= O.OCR_MARGIN_PX
        assert 0 < bw <= O.OCR_WRAP_COLS * O.OCR_CHAR_PX and bh == O.OCR_LINE_PX
        img_w, img_h = O.image_dims(len(ocr_text))
        x0, y0, x1, y1 = O.padded_box(left, top, bw, bh, img_w, img_h)
        assert 0 <= x0 < x1 <= img_w and 0 <= y0 < y1 <= img_h
    # consecutive words are separated by exactly one space
    for (_, _, ce_prev), (_, cs_next, _) in zip(words, words[1:]):
        assert cs_next == ce_prev + 1
    # mapping: a span covering everything intersects every word; an empty
    # span region intersects none
    if words:
        assert O.boxes_for_span(words, 0, len(ocr_text)) == words
    assert O.boxes_for_span(words, len(ocr_text) + 5, len(ocr_text) + 6) == []


# --- distributed-trainer core specs (operators.train's building blocks) ------


@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 2), st.integers(1, 50)),
        max_size=60,
    )
)
@settings(max_examples=60, deadline=None)
def test_nb_loglik_properties(entries):
    """Seen rows are strictly negative in EVERY class (log of p<1); all-zero
    rows are exactly 0.0 (the OOV marker predict relies on); smoothed class
    probabilities over seen+unseen buckets sum to 1."""
    import numpy as np

    from pii_detection_redaction_spark.core.ftlang import ALPHA, nb_loglik

    n_buckets, n_cls = 32, 3
    counts = np.zeros((n_buckets, n_cls), dtype=np.int64)
    for b, c, n in entries:
        counts[b % n_buckets, c] += n
    W = nb_loglik(counts)
    seen = counts.sum(axis=1) > 0
    assert (W[~seen] == 0.0).all()
    assert (W[seen] < 0.0).all()
    # exp(W) restores the smoothed conditional distribution per class
    smoothed = counts.astype(float) + ALPHA
    expect = smoothed / smoothed.sum(axis=0)
    assert np.allclose(np.exp(W[seen]), expect[seen], rtol=1e-12)


_uni_text = st.text(
    alphabet=st.characters(max_codepoint=0x2FFF), max_size=400
)


@given(_uni_text)
@settings(max_examples=80, deadline=None)
def test_doc_ngram_counts_totals(text):
    """Totals follow the document length exactly: n chars, n-1 bigrams,
    n-2 trigrams (floored at 0); keys are sorted and unique."""
    from pii_detection_redaction_spark.core.lm import _encode, doc_ngram_counts

    n = len(_encode(text))
    (uk, uc), (bk, bc), (tk, tc) = doc_ngram_counts(text)
    assert uc.sum() == n
    assert bc.sum() == max(0, n - 1)
    assert tc.sum() == max(0, n - 2)
    for keys in (uk, bk, tk):
        assert (keys[1:] > keys[:-1]).all() if len(keys) > 1 else True


@given(_uni_text)
@settings(max_examples=40, deadline=None)
def test_lm_from_counts_equals_constructor(text):
    """CharTrigramLM.from_counts on one document's own counts IS the
    text constructor — same arrays, same total, same perplexity."""
    import numpy as np

    from pii_detection_redaction_spark.core.lm import CharTrigramLM, doc_ngram_counts

    uni, bi, tri = doc_ngram_counts(text)
    m = CharTrigramLM.from_counts(uni, bi, tri)
    ref = CharTrigramLM(text)
    for part in ("uni", "bi", "tri"):
        assert np.array_equal(
            getattr(m, f"{part}_keys"), getattr(ref, f"{part}_keys")
        )
        assert np.array_equal(getattr(m, f"{part}_cnt"), getattr(ref, f"{part}_cnt"))
    assert m.total == ref.total
    probe = (text[:40] or "probe") + " tail"
    assert m.perplexity(probe) == ref.perplexity(probe)
