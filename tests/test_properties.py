"""Property-based pins (SURVEY.md §5.2.3): the risk CASE chain against
a pure-Python reference across boundary-heavy generated inputs, and
grid-join ≡ naive-join on random point clouds."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from eco_pulse_lakehouse_spark.functions.scalar import risk_level
from eco_pulse_lakehouse_spark.operators.joins import (
    distance_join_grid,
    distance_join_grid_band,
    distance_join_naive,
)


def _risk_py(conf, wind, temp, hum):
    """Literal transcription of gold_batch_job.py:65-74."""
    if conf == "h" and wind >= 30.0 and temp >= 303.15 and hum <= 30.0:
        return "EXTREME"
    if conf == "h" and wind >= 30.0:
        return "VERY_HIGH"
    if conf == "h" and wind >= 20.0:
        return "HIGH"
    if conf == "h":
        return "MODERATE"
    return "LOW"


# boundary-heavy domains: exact thresholds included
_wind = st.sampled_from([0.0, 19.99, 20.0, 29.99, 30.0, 30.01, 60.0])
_temp = st.sampled_from([280.0, 303.14, 303.15, 303.16, 400.0])
_hum = st.sampled_from([0.0, 29.99, 30.0, 30.01, 90.0])
_conf = st.sampled_from(["h", "n", "l"])
_coord = st.one_of(
    st.floats(
        min_value=-80.0, max_value=80.0, allow_nan=False,
        allow_infinity=False,
    ),
    # exact cell boundaries for eps=20: multiples of eps, of the band
    # form's 2*eps cell width, and the half-cell marks where the
    # band's lower/upper-half neighbor choice flips
    st.sampled_from(
        [-80.0, -60.0, -40.0, -20.0, -10.0, 0.0, 10.0, 20.0, 30.0,
         40.0, 60.0, 80.0]
    ),
)


def test_risk_case_chain_matches_python_reference(spark):
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(st.tuples(_conf, _wind, _temp, _hum), min_size=1, max_size=30)
    )
    def check(rows):
        df = spark.createDataFrame(
            rows, "confidence STRING, wind DOUBLE, temp DOUBLE, hum DOUBLE"
        )
        got = [
            r.lvl
            for r in df.select(
                risk_level(
                    F.col("confidence"), F.col("wind"), F.col("temp"),
                    F.col("hum"),
                ).alias("lvl")
            ).collect()
        ]
        assert got == [_risk_py(*row) for row in rows]

    check()


def test_grid_join_equivalence_property(spark):
    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.tuples(_coord, _coord), min_size=1, max_size=12),
        st.lists(st.tuples(_coord, _coord), min_size=1, max_size=6),
    )
    def check(points, sites):
        p = spark.createDataFrame(
            [(i, la, lo) for i, (la, lo) in enumerate(points)],
            "pid INT, lat DOUBLE, lon DOUBLE",
        )
        s = spark.createDataFrame(
            [(i, la, lo) for i, (la, lo) in enumerate(sites)],
            "sid INT, s_lat DOUBLE, s_lon DOUBLE",
        )
        naive = {
            (r.pid, r.sid)
            for r in distance_join_naive(p, s, 20.0)
            .select("pid", "sid")
            .collect()
        }
        grid = {
            (r.pid, r.sid)
            for r in distance_join_grid(p, s, 20.0)
            .select("pid", "sid")
            .collect()
        }
        assert naive == grid
        # ×4 band form: same pairs AND no duplicates (every true pair
        # shares exactly one 2*eps cell — the half-aware neighbor
        # argument)
        band_rows = [
            (r.pid, r.sid)
            for r in distance_join_grid_band(p, s, 20.0)
            .select("pid", "sid")
            .collect()
        ]
        assert set(band_rows) == naive
        assert len(band_rows) == len(set(band_rows))

    check()


@settings(max_examples=30, deadline=None)
@given(
    st.lists(
        st.tuples(
            # cross 2^53 (~9.0e15): doubles can't represent every
            # integer past it, which is exactly where the old
            # `/`-based form silently broke (round-2 ADVICE)
            st.integers(min_value=-(2**63) + 2**62, max_value=2**63 - 1),
            st.integers(min_value=1, max_value=10**9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_floor_div_matches_python_floor(spark, pairs):
    """_floor_div (pure-integer floor division via pmod) must equal
    Python's // for any numerator sign — the primitive PQ centroid
    updates rely on past 2^53 where floor(a/b) on doubles breaks."""
    from eco_pulse_lakehouse_spark.operators.similarity import _floor_div

    df = spark.createDataFrame(pairs, "num LONG, den LONG")
    got = [
        r.fd
        for r in df.select(
            _floor_div(F.col("num"), F.col("den")).alias("fd")
        ).collect()
    ]
    assert got == [n // d for n, d in pairs]


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_countmin_never_undercounts_any_input(spark, keys):
    """CMS point estimates are >= the true count for EVERY key on ANY
    input (the sketch's one-sided error guarantee)."""
    from eco_pulse_lakehouse_spark.operators import sketches as sk

    df = spark.createDataFrame([(k,) for k in keys], "w STRING")
    sketch = sk.cms_build(df, "w", depth=3, width=8)
    vocab = df.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    est = sk.cms_estimate(sketch, vocab, "w", depth=3, width=8).collect()
    assert est and all(r.est_count >= r.exact_count for r in est)


def test_spacesaving_topk_equals_direct_for_any_stream(spark):
    """Space-Saving + exact recount ≡ direct top-k for arbitrary
    (unit, key) streams whenever the exactness certificate holds —
    per_unit_k = full vocab guarantees it (thresholds all 0), and a
    second tighter run exercises real truncation with strict mode
    deciding validity."""

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 3), st.sampled_from("abcdefgh")),
            min_size=1,
            max_size=60,
        )
    )
    def run(rows):
        from eco_pulse_lakehouse_spark.operators.sketches import (
            spacesaving_topk,
        )

        df = spark.createDataFrame(
            [(u, k) for u, k in rows], "unit INT, key STRING"
        )
        direct = (
            df.groupBy("key")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("key").asc())
            .limit(3)
            .collect()
        )
        got = spacesaving_topk(
            df, "key", "unit", k=3, per_unit_k=8
        ).collect()
        assert [(r.key, r.n) for r in got] == [(r.key, r.n) for r in direct]

    run()


def test_pattern_matches_equal_python_reference(spark):
    """sessionized_pattern_matches ≡ a pure-Python sessionize+regex
    reference for arbitrary event streams (random types, random
    minute offsets — sessions split on >30 min gaps)."""
    import re
    from datetime import datetime, timedelta

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 1),           # user
                st.integers(0, 600),         # minute offset
                st.sampled_from("scvpe"),    # event class char
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: (t[0], t[1]),
        )
    )
    def run(evs):
        from eco_pulse_lakehouse_spark.operators.patterns import (
            sessionized_pattern_matches,
        )

        t0 = datetime(2024, 5, 1)
        rows = [
            (i, u, t0 + timedelta(minutes=m), c)
            for i, (u, m, c) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            rows, "event_id LONG, user_id LONG, ts TIMESTAMP, c STRING"
        )
        got = {
            (r.user_id, r.session_id): (r.journey, r.n_matches)
            for r in sessionized_pattern_matches(
                df, "user_id", "ts", "event_id", F.col("c"), "s[cv]+p",
                gap_seconds=1800,
            ).collect()
        }
        # python reference
        ref = {}
        by_user: dict = {}
        for i, (u, m, c) in enumerate(evs):
            by_user.setdefault(u, []).append((m, i, c))
        for u, lst in by_user.items():
            lst.sort()
            sid, prev = 0, None
            sessions: dict = {}
            for m, _i, c in lst:
                if prev is None or (m - prev) * 60 > 1800:
                    sid += 1
                sessions.setdefault(sid, []).append(c)
                prev = m
            for sid_, chars in sessions.items():
                j = "".join(chars)
                ref[(u, sid_)] = (j, len(re.findall("s[cv]+p", j)))
        assert got == ref

    run()


def test_hw_seasonal_fold_matches_python_reference_property(spark):
    """w30's Holt-Winters fold == the pure-python recurrence
    BIT-EXACTLY for arbitrary generated series (length >= 2m,
    values spanning sign/magnitude mixes): the cross-engine
    determinism claim rests on every step being one correctly-
    rounded IEEE op on identical operands, which must hold for any
    data, not just the corpus."""
    from datetime import datetime, timedelta

    from eco_pulse_lakehouse_spark.operators.timeseries import (
        holt_winters_seasonal,
    )

    _val = st.floats(
        min_value=-1e6, max_value=1e6,
        allow_nan=False, allow_infinity=False,
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(_val, min_size=8, max_size=40))
    def check(vs):
        t0 = datetime(2024, 3, 1)
        rows = [
            (i, 1, t0 + timedelta(minutes=i), v) for i, v in enumerate(vs)
        ]
        df = spark.createDataFrame(
            rows, "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE"
        )
        r = holt_winters_seasonal(
            df, "user_id", "ts", "event_id", "value", season=4
        ).collect()[0]

        def seq(a):
            t = 0.0
            for x in a:
                t = t + x
            return t

        m = 4
        l = seq(vs[:m]) / float(m)
        b = (seq(vs[m:2 * m]) - seq(vs[:m])) / float(m * m)
        s = [x - l for x in vs[:m]]
        for x in vs[2 * m:]:
            s_old = s[0]
            ln = 0.5 * (x - s_old) + 0.5 * (l + b)
            bn = 0.5 * (ln - l) + 0.5 * b
            sn = 0.5 * (x - l - b) + 0.5 * s_old
            l, b = ln, bn
            s = s[1:] + [sn]
        assert (r.level, r.trend, r.season_next) == (l, b, s[0])

    check()


def test_bpe_apply_merge_matches_python_fold(spark):
    """operators/bpe.py:apply_merge (the HOF accumulator fold) against
    a literal Python transcription, on symbol arrays DESIGNED to hit
    the sharp edges: runs of the same symbol ('a a a a' under merge
    (a,a) must give [aa, aa] left-to-right, never re-merge the new
    symbol), merge-target collisions (arrays already containing 'aa'),
    and pairs that never occur."""
    from eco_pulse_lakehouse_spark.operators.bpe import apply_merge

    def py_merge(seg, l, r):
        out = []
        for s in seg:
            if out and out[-1] == l and s == r:
                out[-1] = l + r
            else:
                out.append(s)
        return out

    sym = st.sampled_from(["a", "b", "aa", "ab", "c"])

    @settings(max_examples=10, deadline=None)
    @given(
        segs=st.lists(
            st.lists(sym, min_size=1, max_size=8), min_size=1, max_size=8
        ),
        pair=st.tuples(sym, sym),
    )
    def check(segs, pair):
        l, r = pair
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(segs)],
            "i INT, seg ARRAY<STRING>",
        )
        got = {
            row.i: list(row.out)
            for row in df.select(
                "i", apply_merge(F.col("seg"), l, r).alias("out")
            ).collect()
        }
        want = {i: py_merge(s, l, r) for i, s in enumerate(segs)}
        assert got == want

    check()


class TestPrefixFilterLossless:
    """PPJoin prefix filtering must equal the full inverted-index
    truth on ADVERSARIAL random corpora — tiny vocab + short docs
    maximize shared shingles, ties in df, and boundary prefix
    lengths (the places a prefix-length off-by-one would lose
    pairs)."""

    @settings(max_examples=8, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["a", "b", "c", "d"]),
                min_size=1,
                max_size=9,
            ).map(" ".join),
            min_size=2,
            max_size=12,
        ),
        threshold=st.sampled_from([0.3, 0.5, 0.8, 1.0]),
    )
    def test_equals_full_index(self, spark, docs, threshold):
        from eco_pulse_lakehouse_spark.operators.dedup import (
            ngram_jaccard_pairs,
            prefix_filter_jaccard_pairs,
        )

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id LONG, text STRING"
        )
        pf = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in prefix_filter_jaccard_pairs(
                df, "doc_id", "text", 3, threshold
            ).collect()
        }
        truth = {
            (r.id_a, r.id_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(
                df, "doc_id", "text", 3, threshold
            ).collect()
        }
        assert pf == truth


class TestDsirWeightsReference:
    """DSIR weights vs the pure-Python reference on RANDOM bilingual
    corpora — generalizes the crafted pin in test_northstar.py:
    random doc lengths (incl. 1-token docs with no bigrams), random
    target membership, forced bucket collisions (vocab > buckets)."""

    @settings(max_examples=6, deadline=None)
    @given(
        docs=st.lists(
            st.tuples(
                st.lists(
                    st.sampled_from([f"w{i}" for i in range(40)]),
                    min_size=1,
                    max_size=12,
                ).map(" ".join),
                st.sampled_from(["en", "de"]),
            ),
            min_size=2,
            max_size=15,
        )
    )
    def test_matches_python(self, spark, docs):
        from hypothesis import assume

        from eco_pulse_lakehouse_spark.operators.selection import (
            dsir_weights,
        )
        from tests.test_northstar import _py_dsir_weights

        assume(any(lang == "en" for _, lang in docs))
        rows = [(i, t, l) for i, (t, l) in enumerate(docs)]
        df = spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING"
        )
        got = {
            r.doc_id: (r.n_feats, r.weight_fp)
            for r in dsir_weights(
                df, F.col("lang") == "en", n_buckets=16
            ).collect()
        }
        assert got == _py_dsir_weights(rows, n_buckets=16)


class TestLineDedupReference:
    """line_dedup_keep_first vs a pure-Python replay on dup-heavy
    random corpora (2-word vocab, short docs — chunk collisions
    everywhere, partial tail chunks, within-doc repeats)."""

    @settings(max_examples=6, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["x", "y"]), min_size=1, max_size=10
            ).map(" ".join),
            min_size=2,
            max_size=10,
        ),
        chunk_tokens=st.sampled_from([2, 3]),
    )
    def test_matches_python(self, spark, docs, chunk_tokens):
        import math

        from eco_pulse_lakehouse_spark.operators.dedup import (
            line_dedup_keep_first,
        )

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id LONG, text STRING"
        )
        got = {
            r.doc_id: (r.n_chunks, r.n_removed, r.text_clean)
            for r in line_dedup_keep_first(
                df, "doc_id", "text", chunk_tokens
            ).collect()
        }

        chunks = []  # (doc, cid, chunk) in (doc, cid) order
        for i, t in enumerate(docs):
            w = t.split(" ")
            n = math.ceil(len(w) / chunk_tokens)
            for c in range(n):
                chunks.append(
                    (i, c, " ".join(w[c * chunk_tokens:(c + 1) * chunk_tokens]))
                )
        first = {}
        for d, c, ch in sorted(chunks):
            first.setdefault(ch, (d, c))
        expect = {}
        for i, _ in enumerate(docs):
            mine = [(c, ch) for d, c, ch in chunks if d == i]
            kept = [ch for c, ch in mine if first[ch] == (i, c)]
            expect[i] = (len(mine), len(mine) - len(kept), " ".join(kept))
        assert got == expect


class TestWordPieceReference:
    """learn_wordpiece_merges vs the pure-Python reference on RANDOM
    small-alphabet corpora — generalizes the crafted divergence pin
    in test_northstar.py: tied scores, repeated-char runs, words that
    fully merge before n_merges rounds."""

    @settings(max_examples=6, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["ab", "ba", "aab", "abb", "xy", "a"]),
                min_size=1,
                max_size=8,
            ).map(" ".join),
            min_size=1,
            max_size=8,
        ),
        n_merges=st.sampled_from([2, 3]),
    )
    def test_matches_python(self, spark, docs, n_merges):
        from eco_pulse_lakehouse_spark.operators import bpe
        from tests.test_northstar import _py_wordpiece

        freqs: dict[str, int] = {}
        for t in docs:
            for w in t.split(" "):
                freqs[w] = freqs.get(w, 0) + 1
        expected, _segs = _py_wordpiece(freqs, n_merges)
        df = spark.createDataFrame([(t,) for t in docs], "text STRING")
        got = [
            (r.left_sym, r.right_sym, r.pair_count, r.score_fp)
            for r in bpe.learn_wordpiece_merges(df, n_merges=n_merges)
            .orderBy("merge_round")
            .collect()
        ]
        assert got == expected, (got, expected)


class TestUnigramViterbiReference:
    """unigram_viterbi_segment vs the pure-Python Viterbi on RANDOM
    two-char corpora (maximal lattice ambiguity: every substring is a
    plausible piece), for the seed round and one hard-EM round."""

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.text(alphabet="ab", min_size=1, max_size=7),
                min_size=1,
                max_size=6,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        ),
        em=st.sampled_from([0, 1]),
    )
    def test_matches_python(self, spark, docs, em):
        from eco_pulse_lakehouse_spark.operators.bpe import (
            unigram_viterbi_segment,
        )
        from tests.test_northstar import _py_unigram_viterbi

        freqs: dict[str, int] = {}
        for t in docs:
            for w in t.split(" "):
                if w:
                    freqs[w] = freqs.get(w, 0) + 1
        from hypothesis import assume

        assume(freqs)
        want = _py_unigram_viterbi(freqs, em_rounds=em)
        df = spark.createDataFrame([(t,) for t in docs], "text STRING")
        got = {
            r.w: (r.f, r.n_pieces, r.seg_str, r.best_fp)
            for r in unigram_viterbi_segment(df, em_rounds=em).collect()
        }
        assert got == want, (got, want)


class TestNBClassifierReference:
    """nb_classify vs the pure-Python NB reference on RANDOM
    small-alphabet corpora — generalizes the crafted two-class pin
    in test_northstar.py: shared vocabulary between classes, empty
    class counts in some buckets, one-class-absent labelings, tied
    evidence around zero."""

    @settings(max_examples=6, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "ab", "ba", "bb", "xy", "z"]),
                min_size=1,
                max_size=7,
            ).map(" ".join),
            min_size=2,
            max_size=10,
        ),
        pos_mod=st.sampled_from([2, 3]),
    )
    def test_matches_python(self, spark, docs, pos_mod):
        from pyspark.sql import functions as F

        from eco_pulse_lakehouse_spark.operators.selection import nb_classify
        from tests.test_northstar import _py_nb_classifier

        rows = [(i, t) for i, t in enumerate(docs)]
        pos_ids = {i for i, _ in rows if i % pos_mod == 0}
        df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        got = {
            r.doc_id: (r.n_feats, r.evidence_fp, r.margin_fp)
            for r in nb_classify(
                df, F.col("doc_id") % pos_mod == 0
            ).collect()
        }
        assert got == _py_nb_classifier(rows, pos_ids)


class TestNBMulticlassReference:
    """nb_multiclass_classify vs the pure-Python multiclass NB on
    RANDOM small-alphabet corpora with random class labelings —
    generalizes the crafted 3-language pin: classes sharing
    vocabulary, singleton classes, all-train and half-train splits."""

    @settings(max_examples=5, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "ab", "ba", "xy", "z"]),
                min_size=1,
                max_size=6,
            ).map(" ".join),
            min_size=2,
            max_size=8,
        ),
        n_cls=st.sampled_from([2, 3]),
        train_mod=st.sampled_from([1, 2]),
    )
    def test_matches_python(self, spark, docs, n_cls, train_mod):
        from pyspark.sql import functions as F

        from eco_pulse_lakehouse_spark.operators.selection import (
            nb_multiclass_classify,
        )
        from tests.test_northstar import _py_nb_multiclass

        rows = [
            (i, t, f"cls{i % n_cls}") for i, t in enumerate(docs)
        ]
        train_ids = {i for i, _, _ in rows if i % train_mod == 0}
        # every class must appear in the training half, or the class
        # simply can't be predicted — reject the draw so hypothesis
        # redraws (a bare return would count as a silent pass)
        from hypothesis import assume

        assume(
            {c for i, _, c in rows if i in train_ids}
            == {c for _, _, c in rows}
        )
        df = spark.createDataFrame(
            rows, "doc_id LONG, text STRING, lang STRING"
        )
        got = {
            r.doc_id: (r.pred_lang, r.score_fp, r.n_feats)
            for r in nb_multiclass_classify(
                df, train_pred=F.col("doc_id") % train_mod == 0
            ).collect()
        }
        assert got == _py_nb_multiclass(rows, train_ids)


class TestUniMaxClosedForm:
    """unimax_quotas' closed form vs the paper's literal sequential
    greedy on RANDOM language ladders — hypothesis hunts the
    boundary cases the crafted pins might miss: cap == fair-share
    ties, remainder spread over the uncapped suffix, budgets
    straddling every transition point."""

    @settings(max_examples=12, deadline=None)
    @given(
        sizes=st.lists(
            st.integers(min_value=1, max_value=60),
            min_size=1,
            max_size=6,
        ),
        budget=st.integers(min_value=1, max_value=400),
        epochs=st.sampled_from([1, 2, 3]),
    )
    def test_matches_greedy(self, spark, sizes, budget, epochs):
        from eco_pulse_lakehouse_spark.operators.sampling import (
            unimax_quotas,
        )
        from tests.test_northstar import _unimax_greedy

        lang_n = {f"l{i}": n for i, n in enumerate(sizes)}
        lt = spark.createDataFrame(
            list(lang_n.items()), "lang string, n_tokens long"
        )
        got = {
            r.lang: r.lang_quota
            for r in unimax_quotas(
                lt, "lang", "n_tokens", budget, epochs
            ).collect()
        }
        assert got == _unimax_greedy(lang_n, budget, epochs)


class TestWinnowingReference:
    """winnowing_fingerprints vs a literal python replay on RANDOM
    small-alphabet documents — hunts boundary cases beyond the
    crafted pin (docs shorter than k, exactly k, fewer grams than
    the window, all-identical tokens collapsing every gram hash)."""

    @settings(max_examples=8, deadline=None)
    @given(
        docs=st.lists(
            st.lists(
                st.sampled_from(["aa", "ab", "ba", "xy", "z"]),
                min_size=1,
                max_size=12,
            ).map(" ".join),
            min_size=1,
            max_size=6,
        )
    )
    def test_matches_python(self, spark, docs):
        from eco_pulse_lakehouse_spark.operators.dedup import (
            poly_token_hash,
            winnowing_fingerprints,
        )

        def pth(tok: str) -> int:
            h = 0
            for c in tok:
                h = (h * 131 + ord(c)) % 1_000_000_007
            return h

        def replay(text: str) -> set[int]:
            th = [pth(t) for t in text.split(" ")]
            gh = [
                (((th[i] * 67 + th[i + 1]) % 2147483647) * 67
                 + th[i + 2]) % 2147483647
                for i in range(len(th) - 2)
            ]
            if not gh:
                return set()
            n_win = max(len(gh) - 3, 1)
            return {min(gh[j:j + 4]) for j in range(n_win)}

        df = spark.createDataFrame(
            list(enumerate(docs)), "doc_id long, text string"
        )
        got: dict[int, set] = {}
        for r in winnowing_fingerprints(
            df, "doc_id", "text", k=3, w=4, token_hash=poly_token_hash
        ).collect():
            got.setdefault(r.doc_id, set()).add(r.fp)
        want = {i: replay(t) for i, t in enumerate(docs) if replay(t)}
        assert got == want


class TestHilbertReference:
    """hilbert_values vs the literal python xy→d loop on random
    coordinates and bit widths — plus the d-uniqueness invariant."""

    @settings(max_examples=8, deadline=None)
    @given(
        pts=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=255),
                st.integers(min_value=0, max_value=255),
            ),
            min_size=1,
            max_size=24,
            unique=True,
        ),
        bits=st.sampled_from([4, 8]),
    )
    def test_matches_python(self, spark, pts, bits):
        from pyspark.sql import functions as F

        from eco_pulse_lakehouse_spark.operators.layout import (
            hilbert_values,
        )
        from hypothesis import assume

        n = 1 << bits
        assume(all(x < n and y < n for x, y in pts))

        def xy2d(x: int, y: int) -> int:
            d = 0
            s = n // 2
            while s > 0:
                rx = 1 if (x & s) > 0 else 0
                ry = 1 if (y & s) > 0 else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:
                    if rx == 1:
                        x, y = s - 1 - x, s - 1 - y
                    x, y = y, x
                s //= 2
            return d

        df = spark.createDataFrame(pts, "x long, y long")
        got = {
            (r.x, r.y): r.h
            for r in hilbert_values(
                df, F.col("x"), F.col("y"), bits=bits
            ).collect()
        }
        assert got == {(x, y): xy2d(x, y) for x, y in pts}
        assert len(set(got.values())) == len(got)  # injective


class TestIncrementalComponentsEqualsFull:
    """Incremental CC maintenance vs the one-shot truth on RANDOM
    graphs and RANDOM batch splits (generalizes the crafted bridge
    case in test_analytics_ops.py): folding any partition of an edge
    list through incremental_components_update — starting from an
    EMPTY prior state — must land the exact label table
    connected_components produces on the full list. Random splits
    exercise every path at once: new-node entry, cross-batch
    cluster merges (including min-label takeover by a LATER batch's
    smaller id), self-merges inside an existing cluster, and
    untouched-component carry-forward."""

    @settings(max_examples=6, deadline=None)
    @given(
        raw=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)),
            min_size=1,
            max_size=10,
        ),
        n_batches=st.integers(1, 3),
    )
    def test_fold_equals_one_shot(self, spark, raw, n_batches):
        from hypothesis import assume

        from eco_pulse_lakehouse_spark.operators.components import (
            connected_components,
            incremental_components_update,
        )

        edges = [(a, b) for a, b in raw if a != b]
        assume(edges)
        state = spark.createDataFrame([], "id LONG, comp LONG")
        k = max(1, -(-len(edges) // n_batches))  # ceil split
        for i in range(0, len(edges), k):
            batch = spark.createDataFrame(
                edges[i : i + k], "id_a LONG, id_b LONG"
            )
            state = incremental_components_update(
                state, batch
            ).localCheckpoint(eager=True)
        inc = {r.id: r.comp for r in state.collect()}
        full = spark.createDataFrame(edges, "id_a LONG, id_b LONG")
        truth = {
            r.id: r.comp for r in connected_components(full).collect()
        }
        assert inc == truth


def test_hashed_feature_count_inverts_to_token_count(spark):
    """budget_select derives n_tokens as (n_feats + 1) div 2 from the
    DSIR feature stream (operators/selection.py) — exact only while
    _hashed_features emits unigrams + word bigrams, i.e. 2n − 1
    features for n ≥ 1 tokens. Pin the invariant on arbitrary texts:
    empty strings and repeated, leading and trailing spaces
    included."""
    from eco_pulse_lakehouse_spark.functions.text import token_count
    from eco_pulse_lakehouse_spark.operators.selection import (
        _hashed_features,
    )

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.text(alphabet="ab \t", max_size=12), min_size=1,
                    max_size=20))
    def check(texts):
        df = spark.createDataFrame([(t,) for t in texts], "text STRING")
        rows = df.select(
            F.size(_hashed_features(F.col("text"), 128)).alias("n_feats"),
            token_count(F.col("text")).alias("n_tok"),
        ).select(
            F.expr("(n_feats + 1) div 2").alias("n_inv"), "n_tok"
        ).collect()
        assert all(r.n_inv == r.n_tok for r in rows)

    check()
