"""Exact substring-span dedup: semantics and plan shape."""

from __future__ import annotations

import re

import pytest

from ig_etl_sync_spark.operators.spans import (
    doc_spans,
    span_dup_stats,
    span_frequencies,
)

BOILER = "all rights reserved no part may be reproduced"  # 8 words


@pytest.fixture()
def docs(spark):
    rows = [
        # d1/d2 share the 8-word boilerplate span verbatim
        ("d1", f"alpha beta gamma {BOILER} delta"),
        ("d2", f"{BOILER} epsilon zeta eta theta iota"),
        # d3: unique text, no duplicated span
        ("d3", "completely different words with no overlap at all here"),
        # d4: repeats the span twice WITHIN the doc only
        ("d4", f"{BOILER} and again {BOILER}"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_doc_spans_positions(spark):
    df = spark.createDataFrame([("d", "a b c d e")], ["doc_id", "text"])
    got = doc_spans(df, k=3).collect()
    assert [r.pos for r in got] == [0, 1, 2]  # 5 tokens -> 3 spans
    assert len({r.span_md5 for r in got}) == 3


def test_short_doc_single_span(spark):
    df = spark.createDataFrame([("d", "one two")], ["doc_id", "text"])
    got = doc_spans(df, k=8).collect()
    assert len(got) == 1 and got[0].pos == 0


def duplicated(docs, min_docs):
    """(doc, span) rows whose span occurs in >= min_docs documents."""
    spans = doc_spans(docs, k=8)
    freq = span_frequencies(spans).where(f"n_docs >= {min_docs}")
    return spans.join(freq, "span_md5")


def test_cross_doc_duplicates_found(docs):
    dup = duplicated(docs, min_docs=2)
    by_doc = {r.doc_id for r in dup.collect()}
    # the boilerplate span appears in d1, d2 and d4 -> all flagged; d3 not
    assert by_doc == {"d1", "d2", "d4"}
    assert all(r.n_docs == 3 for r in dup.collect())


def test_within_doc_repeat_counts_once_for_ndocs(docs):
    spans = doc_spans(docs, k=8)
    freq = {r.span_md5: (r.n_docs, r.n_occ) for r in span_frequencies(spans).collect()}
    boiler_rows = [v for v in freq.values() if v[0] == 3]
    assert boiler_rows == [(3, 4)]  # 3 docs; 4 occurrences (d4 twice)


def test_dup_stats_ratio(docs):
    got = {r.doc_id: r for r in span_dup_stats(docs, k=8, min_docs=2).collect()}
    assert got["d3"].n_dup_spans == 0 and got["d3"].dup_ratio == 0.0
    assert got["d1"].n_dup_spans == 1  # only the exact boilerplate span
    assert got["d2"].n_dup_spans == 1
    assert got["d4"].n_dup_spans == 2  # both occurrences flagged
    # every doc accounted for, ratio in [0, 1]
    assert all(0.0 <= r.dup_ratio <= 1.0 for r in got.values())


def test_min_docs_threshold(docs):
    dup3 = duplicated(docs, min_docs=4)
    assert dup3.count() == 0  # span is only in 3 docs


def test_single_data_shuffle(docs):
    """ONE physical data-wide shuffle (the explicit span_md5
    repartition, branch copies deduped by ReusedExchange); the
    (span,doc) distinct, freq agg, and dup-join all ride it. The only
    other Exchange moves per-doc partial counts."""
    out = span_dup_stats(docs, k=8, min_docs=2)
    out.collect()  # finalize the adaptive plan so reuse is visible
    plan = out._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^),]*)[^)]*\)", plan)
    # never a (span_md5, doc_id) data-wide or probe-side re-shuffle
    assert all("doc_id" not in k for k in keys if "span_md5" in k)
    # exactly two doc-keyed exchanges: the scan SPREAD before the
    # shingle explode (doc-count-sized rows, pre-explode) and the one
    # per-doc partial-count agg — never a third
    assert len({k for k in keys if "doc_id" in k}) == 2
    assert "ReusedExchange" in plan  # branch repartitions deduped


# ------------------------- winnowing fingerprints (X66)


def _py_winnow(text: str, k: int, w: int) -> set:
    """Brute-force reference: shingle -> md5_int32 -> window mins."""
    import hashlib
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^\w\s]", "", text.lower().strip()))
    toks = [t for t in norm.split(" ") if t]
    if not toks:
        return set()
    if len(toks) <= k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    n = len(hs)
    if n < w:
        return {min(hs)}
    return {min(hs[i : i + w]) for i in range(n - w + 1)}


def test_winnowing_matches_python_reference(spark, sf_dir):
    from ig_etl_sync_spark.operators.spans import winnowing_fingerprints

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 60")
    got = {}
    for r in winnowing_fingerprints(docs, k=5, w=4).collect():
        got.setdefault(r.doc_id, set()).add(r.fp)
    for row in docs.collect():
        assert got.get(row.doc_id, set()) == _py_winnow(row.text, 5, 4), row.doc_id


def test_winnowing_guarantee_shared_run(spark):
    """Schleimer et al. guarantee: a shared run of >= w + k - 1 words
    yields at least one shared fingerprint."""
    from ig_etl_sync_spark.operators.spans import winnow_match_pairs

    k, w = 5, 4
    shared = " ".join(f"common{i}" for i in range(w + k - 1))  # 8 words
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + shared + " gamma delta epsilon zeta"),
            (2, "one two three four " + shared + " five six"),
            (3, "totally unrelated words here nothing in common at all"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.shared_fps
        for r in winnow_match_pairs(docs, k=k, w=w, top_n=10).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert not any(3 in p for p in pairs)


def test_winnowing_short_doc_has_fingerprint(spark):
    from ig_etl_sync_spark.operators.spans import winnowing_fingerprints

    docs = spark.createDataFrame([(1, "just three words")], "doc_id long, text string")
    fps = winnowing_fingerprints(docs, k=5, w=4).collect()
    assert len(fps) == 1


def test_winnowing_rejects_bad_window(spark):
    from ig_etl_sync_spark.operators.spans import winnowing_fingerprints

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnowing_fingerprints(docs, w=0)


# -- span_token_coverage (ExactSubstr cut: interval union + rebuild) --

def _brute_coverage(rows, k, min_docs):
    """Python reference replaying textops tokenization + word_shingles'
    short-doc case, interval-union coverage, and the clean rebuild."""
    def toks(s):
        s = re.sub(r"[^\w\s]", "", s.strip().lower())
        s = re.sub(r"\s+", " ", s)
        return [t for t in s.split(" ") if t]

    per_doc = {}
    for doc_id, text in rows:
        t = toks(text)
        if len(t) <= k:
            spans = [(0, " ".join(t))] if t else []
        else:
            spans = [(i, " ".join(t[i:i + k])) for i in range(len(t) - k + 1)]
        per_doc[doc_id] = (t, spans)
    docs_of = {}
    for doc_id, (_, spans) in per_doc.items():
        for _, g in spans:
            docs_of.setdefault(g, set()).add(doc_id)
    out = {}
    for doc_id, (t, spans) in per_doc.items():
        if not t:
            continue
        starts = [p for p, g in spans if len(docs_of[g]) >= min_docs]
        covered = set()
        for p in starts:
            covered.update(range(p, min(p + k, len(t))))
        clean = " ".join(w for i, w in enumerate(t) if i not in covered)
        out[doc_id] = (
            len(t), len(starts), len(covered),
            len(covered) * 1_000_000 // len(t), clean,
        )
    return out


def test_span_coverage_matches_python_reference(docs):
    from ig_etl_sync_spark.operators.spans import span_token_coverage

    rows = [(r.doc_id, r.text) for r in docs.collect()]
    want = _brute_coverage(rows, k=8, min_docs=2)
    got = {
        r.doc_id: (r.n_tokens, r.dup_starts, r.covered_tokens,
                   r.dup_coverage_ppm, r.clean_text)
        for r in span_token_coverage(docs, k=8, min_docs=2).collect()
    }
    assert got == want


def test_span_coverage_interval_union_no_double_count(spark):
    """Two OVERLAPPING duplicated windows cover their union, not 2k."""
    shared = "p q r s t u v w x"  # 9 words -> two overlapping 8-spans
    df = spark.createDataFrame(
        [("a", f"{shared} tail1 tail2 tail3"),
         ("b", f"{shared} other words here too")],
        ["doc_id", "text"],
    )
    from ig_etl_sync_spark.operators.spans import span_token_coverage

    got = {r.doc_id: r for r in span_token_coverage(df, k=8).collect()}
    # both 8-spans of the 9 shared words are duplicated; union = 9 tokens
    assert got["a"].dup_starts == 2 and got["a"].covered_tokens == 9
    assert got["a"].clean_text == "tail1 tail2 tail3"


def test_span_coverage_fully_duplicated_doc_empty_clean(spark):
    from ig_etl_sync_spark.operators.spans import span_token_coverage

    df = spark.createDataFrame(
        [("a", "same short text"), ("b", "same short text")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in span_token_coverage(df, k=8).collect()}
    for r in got.values():
        assert r.covered_tokens == r.n_tokens == 3
        assert r.dup_coverage_ppm == 1_000_000
        assert r.clean_text == ""


def test_span_coverage_unique_doc_untouched(docs):
    from ig_etl_sync_spark.operators.spans import span_token_coverage

    got = {r.doc_id: r for r in span_token_coverage(docs, k=8).collect()}
    d3 = got["d3"]
    assert d3.covered_tokens == 0 and d3.dup_starts == 0
    assert d3.clean_text == "completely different words with no overlap at all here"


def _brute_longest(rows, k, min_docs):
    """Longest duplicated substring via the same shingle model."""
    out = {}
    cov = _brute_coverage(rows, k, min_docs)  # reuse tokenization rules
    # recompute starts per doc to measure runs
    import re as _re

    def toks(s):
        s = _re.sub(r"[^\w\s]", "", s.strip().lower())
        s = _re.sub(r"\s+", " ", s)
        return [t for t in s.split(" ") if t]

    per_doc, docs_of = {}, {}
    for doc_id, text in rows:
        t = toks(text)
        if len(t) <= k:
            spans = [(0, " ".join(t))] if t else []
        else:
            spans = [(i, " ".join(t[i:i + k])) for i in range(len(t) - k + 1)]
        per_doc[doc_id] = (t, spans)
        for _, g in spans:
            docs_of.setdefault(g, set()).add(doc_id)
    for doc_id, (t, spans) in per_doc.items():
        if not t:
            continue
        starts = sorted(p for p, g in spans if len(docs_of[g]) >= min_docs)
        best = 0
        i = 0
        while i < len(starts):
            j = i
            while j + 1 < len(starts) and starts[j + 1] == starts[j] + 1:
                j += 1
            best = max(best, starts[j] - starts[i] + k)
            i = j + 1
        out[doc_id] = min(best, len(t))
    return out


def test_span_family_randomized_vs_reference(spark):
    """Seeded random corpora with planted shared runs: coverage AND
    longest-span must both replay the python reference exactly."""
    import random

    from ig_etl_sync_spark.operators.spans import (
        longest_dup_span,
        span_token_coverage,
    )

    rng = random.Random(20260815)
    vocab = [f"w{i}" for i in range(30)]
    shared_runs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14)))
        for _ in range(4)
    ]
    rows = []
    for d in range(24):
        parts = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.5:
                parts.append(rng.choice(shared_runs))
            else:
                parts.append(
                    " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 9)))
                )
        rows.append((f"d{d}", " ".join(parts)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for k in (3, 8):
        want_cov = _brute_coverage(rows, k=k, min_docs=2)
        got_cov = {
            r.doc_id: (r.n_tokens, r.dup_starts, r.covered_tokens,
                       r.dup_coverage_ppm, r.clean_text)
            for r in span_token_coverage(df, k=k, min_docs=2).collect()
        }
        assert got_cov == want_cov, k
        want_l = _brute_longest(rows, k=k, min_docs=2)
        got_l = {
            r.doc_id: r.longest_span_tokens
            for r in longest_dup_span(df, k=k, min_docs=2).collect()
        }
        assert got_l == want_l, k


# ------------------------- SpanDupIndex (incremental ExactSubstr, X77)

def _span_rows(r):
    return {
        row.doc_id: (row.n_tokens, row.dup_starts, row.covered_tokens,
                     row.dup_coverage_ppm, row.clean_text)
        for row in r.collect()
    }


def test_span_index_probe_equals_full_recompute(spark, tmp_path):
    from ig_etl_sync_spark.operators.spans import (
        SpanDupIndex,
        span_token_coverage,
    )

    boiler = "all rights reserved no part may be reproduced"
    ref = spark.createDataFrame(
        [("r1", f"alpha beta {boiler} gamma"),
         ("r2", f"{boiler} delta epsilon zeta eta theta"),
         ("r3", "reference only words never repeated anywhere else")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [("b1", f"intro words {boiler} outro words here"),
         ("b2", "a fully novel document with fresh vocabulary throughout"),
         ("b3", "a fully novel document with fresh vocabulary throughout")],
        ["doc_id", "text"],
    )
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    idx.build(ref)
    got = _span_rows(idx.probe(batch))
    want = {
        k: v
        for k, v in _span_rows(
            span_token_coverage(ref.unionByName(batch), k=8, min_docs=2)
        ).items()
        if k.startswith("b")
    }
    assert got == want
    # b1 shares the boilerplate with the index; b2/b3 duplicate each
    # other WITHIN the batch (index ∪ batch semantics covers both)
    assert got["b1"][2] > 0 and got["b2"][2] > 0 and got["b3"][2] > 0


def test_span_index_extend_retry_idempotent(spark, tmp_path):
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    ref = spark.createDataFrame(
        [("r1", "shared run of many common tokens here today")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [("b1", "shared run of many common tokens here today")],
        ["doc_id", "text"],
    )
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    idx.build(ref)
    idx.extend(batch, epoch=1)
    idx.extend(batch, epoch=1)  # foreachBatch retry replays the epoch
    pairs = idx._table.read()
    assert pairs.count() == pairs.dropDuplicates(["span_md5", "doc_id"]).count()
    # an already-indexed id re-probed must NOT self-match into a dup
    solo = spark.createDataFrame(
        [("b1", "totally unrelated text with unique vocabulary now")],
        ["doc_id", "text"],
    )
    got = _span_rows(idx.probe(solo))
    assert got["b1"][2] == 0


def test_span_index_unbuilt_degrades_to_batch_self_dedup(spark, tmp_path):
    from ig_etl_sync_spark.operators.spans import (
        SpanDupIndex,
        span_token_coverage,
    )

    batch = spark.createDataFrame(
        [("b1", "twin text of several words in a row"),
         ("b2", "twin text of several words in a row"),
         ("b3", "one of a kind content right here friends")],
        ["doc_id", "text"],
    )
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    got = _span_rows(idx.probe(batch))
    want = _span_rows(span_token_coverage(batch, k=8, min_docs=2))
    assert got == want


def test_span_index_compact_preserves_probe(spark, tmp_path):
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    boiler = "all rights reserved no part may be reproduced"
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    idx.build(spark.createDataFrame(
        [("r1", f"first epoch doc {boiler} indeed")], ["doc_id", "text"]))
    idx.extend(spark.createDataFrame(
        [("r2", f"second epoch doc {boiler} also")], ["doc_id", "text"]))
    batch = spark.createDataFrame(
        [("b1", f"probe doc with {boiler} inside it")], ["doc_id", "text"])
    before = _span_rows(idx.probe(batch))
    assert idx.compact() is not None
    after = _span_rows(idx.probe(batch))
    assert before == after and before["b1"][2] > 0


def test_span_index_probe_touched_only_equals_filtered_full(spark, tmp_path):
    """touched_only returns exactly the covered_tokens>0 rows of the
    full form, with identical values (the streaming-cut fast path)."""
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    boiler = "all rights reserved no part may be reproduced"
    ref = spark.createDataFrame(
        [("r1", f"alpha beta {boiler} gamma"),
         ("r2", f"{boiler} delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [("b1", f"intro words {boiler} outro words here"),
         ("b2", "a fully novel document with fresh vocabulary throughout")],
        ["doc_id", "text"],
    )
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    idx.build(ref)
    full = _span_rows(idx.probe(batch))
    touched = _span_rows(idx.probe(batch, touched_only=True))
    assert touched == {k: v for k, v in full.items() if v[2] > 0}
    assert "b1" in touched and "b2" not in touched


def test_span_index_probe_index_covers_batch_equals_default(spark, tmp_path):
    """After extend(batch), probe(index_covers_batch=True) reads the
    batch pairs back from the index — identical result to the default
    recompute, including in-batch-only duplicates (the ingest order)."""
    from ig_etl_sync_spark.operators.spans import SpanDupIndex

    boiler = "all rights reserved no part may be reproduced"
    ref = spark.createDataFrame(
        [("r1", f"alpha beta {boiler} gamma"),
         ("r2", f"{boiler} delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [("b1", f"intro words {boiler} outro words here"),
         ("b2", "twin novel document with fresh vocabulary throughout"),
         ("b3", "twin novel document with fresh vocabulary throughout"),
         ("b4", "a unique one of a kind document right here")],
        ["doc_id", "text"],
    )
    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    idx.build(ref)
    idx.extend(batch, epoch=1)
    got = _span_rows(idx.probe(batch, index_covers_batch=True))
    want = _span_rows(idx.probe(batch))
    assert got == want
    # b2/b3 duplicate each other only WITHIN the batch: visible because
    # their pairs are in the index
    assert got["b2"][2] > 0 and got["b3"][2] > 0 and got["b4"][2] == 0
    # composes with touched_only
    both = _span_rows(
        idx.probe(batch, index_covers_batch=True, touched_only=True)
    )
    assert both == {k: v for k, v in got.items() if v[2] > 0}


def test_span_index_probe_index_covers_batch_requires_index(spark, tmp_path):
    from ig_etl_sync_spark.operators.spans import SpanDupIndex
    import pytest

    idx = SpanDupIndex(spark, str(tmp_path / "sidx"), k=8, min_docs=2)
    batch = spark.createDataFrame(
        [("b1", "some words here for the probe call")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="index_covers_batch"):
        idx.probe(batch, index_covers_batch=True)


# ------------------- char-level ExactSubstr (X98, Lee et al. §4.1 unit)

def test_char_span_catches_in_word_whitespace_perturbation(spark):
    """The VERDICT-r06 property: a whitespace perturbation INSIDE a
    word ('consec tetur' vs 'consectetur') changes the token stream, so
    every word k-window containing it differs — word spans MISS the
    whole duplicated region — while the spaceless char stream is
    identical, so char spans catch it fully."""
    from ig_etl_sync_spark.operators.spans import (
        char_span_coverage,
        span_token_coverage,
    )

    a = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"
    b = "lorem ipsum dolor sit amet consec tetur adipiscing elit sed do eiusmod"
    docs = spark.createDataFrame(
        [("a", a), ("b", b), ("c", "a unique one of a kind doc here")],
        ["doc_id", "text"],
    )
    word = _span_rows(span_token_coverage(docs, k=8, min_docs=2))
    char = _span_rows(char_span_coverage(docs, k=16, min_docs=2))
    assert word["a"][2] == 0 and word["b"][2] == 0  # word spans miss
    assert char["a"][2] == char["a"][0]  # char spans: fully covered
    assert char["b"][2] == char["b"][0]
    assert char["a"][4] == "" and char["b"][4] == ""
    assert char["c"][2] == 0  # unique doc untouched
    assert char["c"][4] == "a unique one of a kind doc here"


def _char_coverage_reference(texts, k, min_docs):
    """Naive python reference: char k-grams of the spaceless normalized
    stream, dup grams >= min_docs docs, interval union, token covered
    iff its whole char range is inside the union."""
    import re

    def norm_tokens(t):
        t = re.sub(r"[^\w\s]", "", t.strip().lower())
        t = re.sub(r"\s+", " ", t)
        return [w for w in t.split(" ") if w]

    streams = {d: "".join(norm_tokens(t)) for d, t in texts.items()}
    grams = {}  # gram -> set(doc)
    starts = {}  # doc -> [cpos...]
    for d, cs in streams.items():
        if not cs:
            continue
        n = len(cs)
        positions = range(max(n - k + 1, 1))
        starts[d] = []
        for i in positions:
            g = cs[i:i + k] if n > k else cs
            grams.setdefault(g, set()).add(d)
            starts[d].append((i, g))
    out = {}
    for d, t in texts.items():
        toks = norm_tokens(t)
        if not toks:
            continue
        cs = streams[d]
        dup = [(i, min(i + k, len(cs)))
               for i, g in starts.get(d, []) if len(grams[g]) >= min_docs]
        covered_chars = set()
        for s, e in dup:
            covered_chars.update(range(s, e))
        # token ranges
        covered_toks = set()
        pos = 0
        for j, w in enumerate(toks):
            rng = range(pos, pos + len(w))
            if all(c in covered_chars for c in rng):
                covered_toks.add(j)
            pos += len(w)
        clean = " ".join(w for j, w in enumerate(toks) if j not in covered_toks)
        out[d] = (
            len(toks),
            len(dup),
            len(covered_toks),
            len(covered_toks) * 1000000 // len(toks),
            clean,
        )
    return out


def test_char_span_coverage_matches_python_reference(spark):
    import random

    rng = random.Random(98)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    boiler = "all rights reserved no part may be reproduced in any form"
    texts = {}
    for i in range(12):
        words = [rng.choice(vocab) for _ in range(rng.randint(3, 15))]
        if i % 3 == 0:
            # insert the boilerplate, sometimes with an in-word split
            b = boiler if i % 2 == 0 else boiler.replace(
                "reproduced", "repro duced"
            )
            at = rng.randint(0, len(words))
            words = words[:at] + [b] + words[at:]
        texts[f"d{i}"] = " ".join(words)
    docs = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    from ig_etl_sync_spark.operators.spans import char_span_coverage

    got = _span_rows(char_span_coverage(docs, k=16, min_docs=2))
    want = _char_coverage_reference(texts, 16, 2)
    assert got == want


def test_char_span_touched_only_equals_filtered(spark):
    from ig_etl_sync_spark.operators.spans import char_span_coverage

    boiler = "all rights reserved no part may be reproduced"
    docs = spark.createDataFrame(
        [("a", f"intro {boiler} outro words here"),
         ("b", f"other {boiler} ending"),
         ("c", "completely unique text with fresh words only")],
        ["doc_id", "text"],
    )
    full = _span_rows(char_span_coverage(docs, k=16, min_docs=2))
    touched = _span_rows(
        char_span_coverage(docs, k=16, min_docs=2, touched_only=True)
    )
    assert touched == {k: v for k, v in full.items() if v[2] > 0}
    assert set(touched) == {"a", "b"}
