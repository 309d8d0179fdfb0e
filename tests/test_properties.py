"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY §5 notes it has none).

Two laws pinned over randomized inputs:
* DSL round trip: any expression tree, rendered fully parenthesized,
  parses back to the same tree; and the compiled SQL predicate evaluated
  by DuckDB agrees with a 5-line reference evaluator on random
  membership assignments.
* nearest-≥ semantics: the distributed asof operator and its driver twin
  agree with the reference's np.searchsorted formulation
  (nshmdb.py:215-221) on random domains and targets, including the
  clamp-to-max edge and an empty domain.
"""

from __future__ import annotations

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from nshm2022db_spark.dsl.compiler import atom_names, compile_to_sql_predicate
from nshm2022db_spark.dsl.parser import And, Name, Not, Or, parse_query
from nshm2022db_spark.operators.asof import nearest_ge_values

ATOMS = ["Alpine Fault", "Hope Fault", "Kakapo", "Brand#1", "F-2: Section 9"]


def trees(depth: int = 4):
    leaf = st.sampled_from(ATOMS).map(Name)
    return st.recursive(
        leaf,
        lambda sub: st.one_of(
            st.tuples(sub, sub).map(lambda p: And(p[0], p[1])),
            st.tuples(sub, sub).map(lambda p: Or(p[0], p[1])),
            sub.map(Not),
        ),
        max_leaves=8,
    )


def render(t) -> str:
    """Fully parenthesized rendering — parse must invert it exactly."""
    if isinstance(t, Name):
        return t.value
    if isinstance(t, Not):
        return f"!({render(t.operand)})"
    op = "&" if isinstance(t, And) else "|"
    return f"({render(t.left)} {op} {render(t.right)})"


def evaluate(t, members: set[str]) -> bool:
    """Reference semantics: membership of atoms under &, |, !."""
    if isinstance(t, Name):
        return t.value in members
    if isinstance(t, Not):
        return not evaluate(t.operand, members)
    if isinstance(t, And):
        return evaluate(t.left, members) and evaluate(t.right, members)
    return evaluate(t.left, members) or evaluate(t.right, members)


class TestDSLProperties:
    @settings(max_examples=200, deadline=None)
    @given(trees())
    def test_render_parse_roundtrip(self, tree):
        assert parse_query(render(tree)) == tree

    @settings(max_examples=100, deadline=None)
    @given(trees(), st.sets(st.sampled_from(ATOMS)))
    def test_sql_codegen_agrees_with_reference_evaluator(self, tree, members):
        atoms = atom_names(tree)
        flags = {a: f"f{i}" for i, a in enumerate(atoms)}
        sql = compile_to_sql_predicate(tree, flags)
        cols = ", ".join(
            f"{str(a in members).lower()} AS f{i}" for i, a in enumerate(atoms)
        )
        got = duckdb.sql(f"SELECT ({sql}) AS r FROM (SELECT {cols})").fetchone()[0]
        assert got == evaluate(tree, members)


class TestAsofProperty:
    def test_matches_searchsorted_reference(self, spark):
        """One Spark job over 200 random targets vs the reference's
        np.searchsorted + clamp (nshmdb.py:215-221) on a random domain."""
        from nshm2022db_spark.operators.asof import nearest_ge_lookup

        rng = np.random.default_rng(7)
        domain_vals = np.unique(rng.uniform(0, 1000, 300).round(3))
        targets_vals = np.concatenate(
            [
                rng.uniform(-100, 1100, 190).round(3),
                domain_vals[:5],  # exact hits
                [domain_vals.max(), domain_vals.max() + 1e-9],  # clamp edge
                [-1e9, 1e9, 0.0],
            ]
        )
        domain = spark.createDataFrame([(float(v),) for v in domain_vals], "v double")
        targets = spark.createDataFrame(
            [(float(t),) for t in np.unique(targets_vals)], "t double"
        )
        got = {
            r.t: r.rounded
            for r in nearest_ge_lookup(domain, "v", targets, "t").collect()
        }

        # reference formulation, nshmdb.py:215-221
        srt = np.sort(domain_vals)
        for t in np.unique(targets_vals):
            idx = min(int(np.searchsorted(srt, t)), len(srt) - 1)
            assert got[float(t)] == float(srt[idx]), t

        # the driver twin gives the same answers, in target order, from
        # an unsorted domain with repeats
        order = np.unique(targets_vals)
        driver = nearest_ge_values(
            np.concatenate([domain_vals[::-1], domain_vals[:7]]), order
        )
        assert driver == [got[float(t)] for t in order]

    def test_empty_domain_rounds_to_none(self, spark):
        """No domain value: the Spark operator yields a null ``rounded``
        and the driver twin None, so most_likely_fault on a rupture with
        no MFD rows matches nothing."""
        from nshm2022db_spark.operators.asof import nearest_ge_lookup

        domain = spark.createDataFrame([], "v double")
        targets = spark.createDataFrame([(6.5,), (-1.0,)], "t double")
        got = {r.t: r.rounded for r in nearest_ge_lookup(domain, "v", targets, "t").collect()}
        assert got == {6.5: None, -1.0: None}
        assert nearest_ge_values([], [6.5, -1.0]) == [None, None]

    def test_most_likely_fault_without_mfd_rows(self, spark, tmp_path):
        from nshm2022db_spark import schemas
        from nshm2022db_spark.api import NSHMDB

        db = NSHMDB.create(spark, str(tmp_path / "db"))
        mk = spark.createDataFrame
        db.insert("parent_fault", mk([(1, "Alpine Fault")], schemas.PARENT_FAULT))
        db.insert("fault", mk([(1, 1, 3, 90.0, None, 1)], schemas.FAULT))
        db.insert("rupture", mk([(1, 3, 1, 100.0, 6.5, 10.0, 0.01)], schemas.RUPTURE))
        db.insert("rupture_faults", mk([(1, 1, 1)], schemas.RUPTURE_FAULTS))
        assert db.most_likely_fault(3, 1, {"Alpine Fault": 6.5}) == {}


class TestPortableRandomized:
    """Randomized cross-engine agreement for the portable primitives:
    a pure-Python reference model evaluated against BOTH engines over
    seeded random strings — one Spark job and one DuckDB query for the
    whole batch, so the sweep stays fast. Fixed seed → reproducible."""

    @staticmethod
    def _py_tokens(s):
        # the pinned explicit class of portable.SPARK/DUCK_TOKEN_SPLIT —
        # NOT \s (python's includes unicode spaces neither engine splits)
        return [t for t in __import__("re").split(r"[ \t\n\x0b\f\r]+", s) if t != ""]

    @staticmethod
    def _py_char_hash(s):
        from nshm2022db_spark.functions.portable import P

        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % P
        return acc

    @staticmethod
    def _py_ascii_lower(s):
        from nshm2022db_spark.functions.portable import ASCII_LOWER, ASCII_UPPER

        return s.translate(str.maketrans(ASCII_UPPER, ASCII_LOWER))

    @classmethod
    def _py_shingle_hashes(cls, s):
        from nshm2022db_spark.functions.portable import P

        hx = [cls._py_char_hash(t) for t in cls._py_tokens(cls._py_ascii_lower(s))]
        out = []
        for i in range(len(hx) - 2):
            out.append((hx[i] * 961 + hx[i + 1] * 31 + hx[i + 2]) % P)
        seen, dedup = set(), []
        for x in out:
            if x not in seen:
                seen.add(x)
                dedup.append(x)
        return dedup

    def test_random_strings_agree_with_model(self, spark):
        import random

        import duckdb
        from pyspark.sql import functions as F

        from nshm2022db_spark.functions.portable import (
            duck_ascii_lower,
            duck_char_hash,
            duck_shingle_hashes,
            duck_token_hashes,
            duck_tokens,
            spark_ascii_lower,
            spark_char_hash,
            spark_shingle_hashes,
            spark_token_hashes,
            spark_tokens,
        )

        rng = random.Random(20260813)
        alphabet = [chr(c) for c in range(33, 127)] + [" "] * 12 + [
            "\t", "\n", "\x0b", "\f", "\r",
            # unicode: full lower() would diverge on İ (Java: i + combining
            # dot; DuckDB: i) — the ASCII fold sidesteps the whole class
            "İ", "é", "ß", "日", "😀",
        ]
        cases = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
            for _ in range(60)
        ]
        cases += ["", " ", "\t\n", "a", "one two three four five"]

        df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i long, s string")
        got = {
            r.i: (r.h, list(r.sh))
            for r in df.select(
                "i",
                F.expr(spark_char_hash("s")).alias("h"),
                F.expr(
                    spark_shingle_hashes(
                        spark_token_hashes(spark_tokens(spark_ascii_lower("s")))
                    )
                ).alias("sh"),
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE t (i BIGINT, s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)", [(i, s) for i, s in enumerate(cases)])
        duck = {
            r[0]: (r[1], list(r[2]))
            for r in con.sql(
                f"SELECT i, {duck_char_hash('s')} AS h, "
                f"{duck_shingle_hashes(duck_token_hashes(duck_tokens(duck_ascii_lower('s'))))} AS sh "
                "FROM t"
            ).fetchall()
        }
        for i, s in enumerate(cases):
            model = (self._py_char_hash(s), self._py_shingle_hashes(s))
            # Spark preserves first-seen shingle order (array_distinct);
            # DuckDB's list_distinct does not guarantee order, and every
            # consumer treats shingle lists as SETS (explode/unnest), so
            # the duck side compares order-insensitively.
            assert got[i] == model, (i, repr(s), got[i], model)
            assert duck[i][0] == model[0], (i, repr(s), duck[i][0], model[0])
            assert sorted(duck[i][1]) == sorted(model[1]), (i, repr(s))


class TestStatsPruningLaws:
    """Manifest data skipping must be SAFE under any stats/prune inputs:
    an entry whose true values intersect the queried range is never
    dropped when its recorded bounds are honest (cover the true values),
    and entries without stats are never dropped at all."""

    @given(
        data=st.lists(
            st.tuples(
                st.integers(0, 9),  # partition id
                st.integers(-1000, 1000),  # value
            ),
            min_size=1,
            max_size=60,
        ),
        lo=st.integers(-1100, 1100),
        width=st.integers(0, 500),
        statless=st.sets(st.integers(0, 9)),
    )
    @settings(max_examples=200, deadline=None)
    def test_honest_stats_never_drop_matching_partitions(
        self, data, lo, width, statless
    ):
        from nshm2022db_spark.streaming.sinks import _stats_prune

        hi = lo + width
        parts = {}
        stats = {}
        for pid, v in data:
            e = f"k={pid}"
            parts.setdefault(e, "data-x")
            if pid not in statless:
                cur = stats.setdefault(e, {"n": 0, "cols": {"v": [v, v]}})
                cur["n"] += 1
                cur["cols"]["v"][0] = min(cur["cols"]["v"][0], v)
                cur["cols"]["v"][1] = max(cur["cols"]["v"][1], v)
        manifest = {"partitions": parts, "stats": stats, "partition_col": "k"}
        kept = _stats_prune(manifest, {"v": (lo, hi)})
        # safety: every partition holding a matching value survives
        for pid, v in data:
            if lo <= v <= hi:
                assert f"k={pid}" in kept, (pid, v, lo, hi)
        # stat-less entries always read
        for pid in statless:
            e = f"k={pid}"
            if e in parts:
                assert e in kept
        # pruning only ever shrinks
        assert set(kept) <= set(parts)

    @given(
        data=st.lists(
            st.tuples(
                st.integers(0, 9),  # partition id
                st.one_of(st.none(), st.integers(-1000, 1000)),  # value
            ),
            min_size=1,
            max_size=60,
        ),
        unknown=st.sets(st.integers(0, 9)),  # entries without null counts
        form=st.sampled_from(["notnull", "null"]),
    )
    @settings(max_examples=200, deadline=None)
    def test_honest_null_counts_never_drop_matching_partitions(
        self, data, unknown, form
    ):
        """IS NULL / IS NOT NULL skipping is safe for any honest null
        counts: a partition holding a (non-)null value is never dropped
        by the corresponding prune form, and entries with unknown
        counts are never dropped at all."""
        from nshm2022db_spark.streaming.sinks import _stats_prune

        parts, stats = {}, {}
        for pid, v in data:
            e = f"k={pid}"
            parts.setdefault(e, "data-x")
            cur = stats.setdefault(e, {"n": 0, "cols": {}, "nulls": {"v": 0}})
            cur["n"] += 1
            if v is None:
                cur["nulls"]["v"] += 1
        for pid in unknown:
            stats.pop(f"k={pid}", None)
        manifest = {"partitions": parts, "stats": stats, "partition_col": "k"}
        kept = _stats_prune(manifest, {"v": form})
        for pid, v in data:
            e = f"k={pid}"
            matches = (v is not None) if form == "notnull" else (v is None)
            if matches or pid in unknown:
                assert e in kept, (pid, v, form)
        assert set(kept) <= set(parts)

    @given(
        contents=st.dictionaries(
            st.integers(0, 5),  # partition id
            st.sets(st.integers(0, 60), max_size=20),  # inserted values
            min_size=1,
            max_size=6,
        ),
        bloomless=st.sets(st.integers(0, 5)),
        probe=st.integers(0, 60),
        positions=st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def test_bloom_prune_never_drops_inserted_values(
        self, contents, bloomless, probe, positions
    ):
        """Bloom skipping is safe for ANY probe-position assignment: an
        entry whose bitmap was built as the OR of its inserted values'
        positions always survives a probe for one of those values (no
        false negatives — the pack/probe bit indexing must agree), and
        entries without a bitmap are never dropped. Probe positions are
        injected through _bloom_probes's cache, so the test exercises
        the REAL prune path bit-for-bit without a SparkSession."""
        import base64 as b64

        from nshm2022db_spark.streaming import sinks

        m, k = 256, 4
        pos = {
            v: positions.draw(
                st.lists(
                    st.integers(0, m - 1), min_size=k, max_size=k
                ),
                label=f"pos{v}",
            )
            for v in set().union(*contents.values(), {probe})
        }
        sinks._PROBE_CACHE.clear()
        for v, ps in pos.items():
            # the cache key carries the column-type tag since r10; a
            # 4-tuple seed (and a spec without "t") short-circuits the
            # prune path to always-True — vacuous (r11 review)
            sinks._PROBE_CACHE[("int", v, m, k, "bigint")] = ps
        parts, bloom = {}, {}
        for pid, vals in contents.items():
            e = f"k={pid}"
            parts[e] = "data-x"
            if pid in bloomless:
                continue
            bits = bytearray(m // 8)
            for v in vals:
                for p in pos[v]:
                    bits[p >> 3] |= 1 << (p & 7)
            bloom[e] = {
                "v": {
                    "m": m, "k": k, "t": "bigint",
                    "v": sinks._BLOOM_FORMAT,  # current sidecar format
                    "bits": b64.b64encode(bytes(bits)).decode("ascii"),
                }
            }
        manifest = {"partitions": parts, "bloom": bloom, "partition_col": "k"}
        kept = sinks._bloom_prune(None, manifest, parts, {"v": probe})
        # the pre-decoded-bits fast path (merge's per-entry decode
        # cache) must agree with the decode-per-call path entry by entry
        for e, specs in bloom.items():
            sp = specs["v"]
            assert sinks._bloom_may_contain(None, sp, probe) == (
                sinks._bloom_may_contain(
                    None, sp, probe, bits=b64.b64decode(sp["bits"])
                )
            )
        sinks._PROBE_CACHE.clear()
        for pid, vals in contents.items():
            if probe in vals or pid in bloomless:
                assert f"k={pid}" in kept, (pid, probe)
        assert set(kept) <= set(parts)
        # and the path is NOT vacuous: an all-zero bitmap must prune a
        # keyed probe (it proves the value was never inserted)
        zero = {
            "m": m, "k": k, "t": "bigint",
            "v": sinks._BLOOM_FORMAT,
            "bits": b64.b64encode(bytes(m // 8)).decode("ascii"),
        }
        sinks._PROBE_CACHE[("int", probe, m, k, "bigint")] = pos[probe]
        assert not sinks._bloom_may_contain(None, zero, probe)
        # ...but the SAME bitmap under an older (or missing) sidecar
        # format can never prune — pre-canonicalization writers hashed
        # through a different input form (ADVICE r14)
        legacy = {kk: vv for kk, vv in zero.items() if kk != "v"}
        assert sinks._bloom_may_contain(None, legacy, probe)
        sinks._PROBE_CACHE.clear()

    @given(
        contents=st.dictionaries(
            st.integers(0, 5),  # partition id
            st.sets(  # inserted (a, b) rows
                st.tuples(st.integers(0, 30), st.integers(0, 30)),
                max_size=12,
            ),
            min_size=1,
            max_size=6,
        ),
        bloomless=st.sets(st.integers(0, 5)),
        a_only=st.sets(st.integers(0, 5)),
        probes=st.lists(
            st.one_of(
                st.tuples(st.integers(0, 30)).map(lambda t: {"a": t[0]}),
                st.tuples(st.integers(0, 30), st.integers(0, 30)).map(
                    lambda t: {"a": t[0], "b": t[1]}
                ),
            ),
            min_size=1,
            max_size=5,
        ),
        positions=st.data(),
    )
    @settings(max_examples=200, deadline=None)
    def test_multi_probe_bloom_prune_never_drops_inserted_values(
        self, contents, bloomless, a_only, probes, positions
    ):
        """The many-probe prune a MERGE runs with its source key rows
        (single keys and two-column key tuples): an entry whose bitmaps
        hold SOME probe's value on every probed column survives, entries
        without a bitmap (or without one for a probed column) always
        survive, and the result is the union of the single-probe
        prunes. Probe positions are injected through _bloom_probes's
        cache, so the real prune path runs without a SparkSession."""
        import base64 as b64

        from nshm2022db_spark.streaming import sinks

        m, k = 256, 4
        vals = {v for rows in contents.values() for r in rows for v in r}
        vals |= {v for p in probes for v in p.values()}
        pos = {
            v: positions.draw(
                st.lists(st.integers(0, m - 1), min_size=k, max_size=k),
                label=f"pos{v}",
            )
            for v in sorted(vals)
        }
        sinks._PROBE_CACHE.clear()
        for v, ps in pos.items():
            sinks._PROBE_CACHE[("int", v, m, k, "bigint")] = ps

        def bitmap(values):
            bits = bytearray(m // 8)
            for v in values:
                for p in pos[v]:
                    bits[p >> 3] |= 1 << (p & 7)
            return {
                "m": m, "k": k, "t": "bigint", "v": sinks._BLOOM_FORMAT,
                "bits": b64.b64encode(bytes(bits)).decode("ascii"),
            }

        parts, bloom = {}, {}
        for pid, rows in contents.items():
            e = f"k={pid}"
            parts[e] = "data-x"
            if pid in bloomless:
                continue
            bloom[e] = {"a": bitmap(r[0] for r in rows)}
            if pid not in a_only:
                bloom[e]["b"] = bitmap(r[1] for r in rows)
        manifest = {"partitions": parts, "bloom": bloom, "partition_col": "k"}
        kept = sinks._bloom_prune(None, manifest, parts, *probes)
        union = set()
        for p in probes:
            union |= set(sinks._bloom_prune(None, manifest, parts, p))
        sinks._PROBE_CACHE.clear()
        assert set(kept) == union
        assert set(kept) <= set(parts)
        for pid, rows in contents.items():
            e = f"k={pid}"
            held = {"a": {r[0] for r in rows}, "b": {r[1] for r in rows}}
            if pid in bloomless or any(
                all(v in held[c] for c, v in p.items()) for p in probes
            ):
                assert e in kept, (pid, probes)
            if pid in a_only and pid not in bloomless and any(
                p["a"] in held["a"] for p in probes
            ):
                assert e in kept, (pid, probes)

    @given(
        xs=st.lists(
            st.integers(-1000, 1000), min_size=1, max_size=40
        ),
        split=st.integers(1, 39),
    )
    @settings(max_examples=200, deadline=None)
    def test_append_stats_merge_equals_recompute(self, xs, split):
        """Merging batch stats (bounds widen, counts sum) must equal
        stats computed over the union — the law append_partition_
        transaction relies on."""
        a, b = xs[:split], xs[split:]
        if not a or not b:
            return
        old = {"n": len(a), "cols": {"v": [min(a), max(a)]}}
        add = {"n": len(b), "cols": {"v": [min(b), max(b)]}}
        merged = {
            "n": old["n"] + add["n"],
            "cols": {
                "v": [
                    min(old["cols"]["v"][0], add["cols"]["v"][0]),
                    max(old["cols"]["v"][1], add["cols"]["v"][1]),
                ]
            },
        }
        assert merged == {"n": len(xs), "cols": {"v": [min(xs), max(xs)]}}


class TestQuantizationLaws:
    @given(
        vec=st.lists(
            st.floats(
                min_value=-100.0,
                max_value=100.0,
                allow_nan=False,
                allow_infinity=False,
            ),
            min_size=1,
            max_size=64,
        )
    )
    @settings(max_examples=200, deadline=None)
    def test_int8_quantization_bounds_and_error(self, vec):
        """The knn_quantized arithmetic (scale = maxabs/127, round-half-up
        via floor): codes stay in [-127, 127] and dequantized components
        sit within half a step of the original. The 1e-300 guard (not
        ==0) exists because this law FOUND the subnormal underflow:
        maxabs = 5e-324 makes maxabs/127 underflow to 0.0 and the
        quantize division explode."""
        ma = max(abs(x) for x in vec)
        qs = 1.0 if ma < 1e-300 else ma / 127.0
        import math

        codes = [math.floor(x / qs + 0.5) for x in vec]
        assert all(-127 <= c <= 127 for c in codes)
        for x, c in zip(vec, codes):
            if ma >= 1e-300:
                assert abs(c * qs - x) <= qs / 2 + 1e-12
            else:
                assert c == 0  # numerically-zero vector codes to zero


class TestCodecRoundTripLaws:
    """r12: randomized round-trip laws for the codec variants. The
    example-based tests pin known shapes; these explore arbitrary
    dims/contents within the formats' envelopes."""

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 40),
        c=st.sampled_from([1, 2, 3, 4]),
        depth16=st.booleans(), interlace=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_png_any_shape_depth_interlace_roundtrips(
        self, w, h, c, depth16, interlace, seed
    ):
        from nshm2022db_spark.extensions.multimodal import (
            decode_png, encode_png,
        )

        rng = np.random.RandomState(seed % 2**32)
        if depth16:
            img = rng.randint(0, 65536, (h, w, c)).astype(np.uint16)
        else:
            img = rng.randint(0, 256, (h, w, c)).astype(np.uint8)
        out = decode_png(encode_png(img, interlace=interlace))
        if c == 1:
            out = out[..., None]
        assert out.dtype == img.dtype
        assert np.array_equal(out, img)

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 33), h=st.integers(1, 17),
        depth=st.sampled_from([1, 2, 4, 8]),
        trns_len=st.integers(0, 8), interlace=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_png_palette_roundtrips(
        self, w, h, depth, trns_len, interlace, seed
    ):
        from nshm2022db_spark.extensions.multimodal import (
            decode_png, encode_png_palette,
        )

        rng = np.random.RandomState(seed % 2**32)
        n = 1 << depth
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        idx = rng.randint(0, n, (h, w)).astype(np.uint8)
        trns = (
            rng.randint(0, 256, min(trns_len, n)).astype(np.uint8)
            if trns_len else None
        )
        out = decode_png(
            encode_png_palette(idx, pal, depth, trns=trns, interlace=interlace)
        )
        if trns is None or len(trns) == 0:
            assert np.array_equal(out, pal[idx])
        else:
            alpha = np.full(n, 255, np.uint8)
            alpha[: len(trns)] = trns
            exp = np.concatenate([pal[idx], alpha[idx][..., None]], -1)
            assert np.array_equal(out, exp)

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 30), h=st.integers(1, 20),
        variant=st.sampled_from(["pal1", "pal4", "pal8", "rle8", "rle4",
                                 "b555", "b565", "b32"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_bmp_variants_roundtrip(self, w, h, variant, seed):
        from nshm2022db_spark.extensions.multimodal import (
            decode_bmp, encode_bmp16, encode_bmp32, encode_bmp_palette,
            encode_bmp_rle4, encode_bmp_rle8,
        )

        rng = np.random.RandomState(seed % 2**32)
        if variant in ("pal1", "pal4", "pal8", "rle8", "rle4"):
            bpp = {"pal1": 1, "pal4": 4, "pal8": 8,
                   "rle8": 8, "rle4": 4}[variant]
            n = 1 << bpp
            pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
            # low-cardinality indices so RLE runs actually form
            idx = rng.randint(0, min(n, 4), (h, w)).astype(np.uint8)
            if variant == "rle8":
                blob = encode_bmp_rle8(idx, pal)
            elif variant == "rle4":
                blob = encode_bmp_rle4(idx, pal)
            else:
                blob = encode_bmp_palette(idx, pal, bpp)
            assert np.array_equal(decode_bmp(blob), pal[idx])
            return
        img = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        if variant == "b32":
            assert np.array_equal(decode_bmp(encode_bmp32(img)), img)
            return
        fmt = variant[1:]
        out = decode_bmp(encode_bmp16(img, fmt))
        shifts = (3, 2, 3) if fmt == "565" else (3, 3, 3)
        exp = np.stack(
            [
                (img[..., i].astype(np.int64) >> s) * 255
                // ((1 << (8 - s)) - 1)
                for i, s in enumerate(shifts)
            ],
            -1,
        ).astype(np.uint8)
        assert np.array_equal(out, exp)

    @settings(max_examples=15, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 40),
        color=st.booleans(), subsample=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_progressive_jpeg_equals_baseline(
        self, w, h, color, subsample, seed
    ):
        """The strongest codec law in the repo: a progressive file
        carries the same quantized coefficients as the baseline file of
        the same pixels, so the decodes must be BIT-IDENTICAL — any
        slip in spectral selection, successive approximation, EOB runs,
        or the non-interleaved component grid breaks equality."""
        from nshm2022db_spark.extensions.multimodal import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive,
        )

        rng = np.random.RandomState(seed % 2**32)
        shape = (h, w, 3) if color else (h, w)
        img = rng.randint(0, 256, shape).astype(np.uint8)
        sub = subsample and color
        base = decode_jpeg(encode_jpeg(img, subsample=sub))
        prog = decode_jpeg(encode_jpeg_progressive(img, subsample=sub))
        assert np.array_equal(base, prog)


class TestProgressiveScanCodecLaws:
    """r12 review sweep: the progressive AC scan encoder/decoder pair
    exercised DIRECTLY on synthetic coefficient blocks — random images
    rarely produce ZRL-in-refinement (16+ zero-history positions before
    a newly-significant coefficient) or long EOB runs with buffered
    correction bits, so this pins those paths on purpose."""

    @settings(max_examples=40, deadline=None)
    @given(
        nblocks=st.integers(1, 12),
        density=st.floats(0.0, 0.4),
        band=st.sampled_from([(1, 5), (6, 63), (1, 63)]),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_ac_first_then_refine_reconstructs_exactly(
        self, nblocks, density, band, seed
    ):
        from nshm2022db_spark.extensions.multimodal import (
            _AC_BITS_PROG, _AC_SYMS_PROG, _ac_first_block,
            _ac_refine_block, _BitReader, _BitWriter, _enc_ac_first,
            _enc_ac_refine, _huff_decode_table, _huff_encode_table,
        )

        rng = np.random.RandomState(seed % 2**32)
        ss, se = band
        blocks = np.zeros((nblocks, 64), np.int64)
        mask = rng.rand(nblocks, se - ss + 1) < density
        vals = rng.randint(-40, 41, (nblocks, se - ss + 1))
        blocks[:, ss : se + 1] = np.where(mask, vals, 0)
        al = 1
        ac_enc = _huff_encode_table(_AC_BITS_PROG, _AC_SYMS_PROG)
        ac_dec = _huff_decode_table(_AC_BITS_PROG, _AC_SYMS_PROG)
        # initial scan at Al=1, refinement at Ah=1/Al=0 — decode must
        # reproduce the full-precision band exactly
        bw1 = _BitWriter()
        _enc_ac_first(bw1, blocks, ss, se, al, ac_enc)
        first = bw1.flush() + b"\xff\xd9"
        got = np.zeros((nblocks, 64), np.int64)
        br = _BitReader(first, 0)
        eob = 0
        for i in range(nblocks):
            eob = _ac_first_block(br, ac_dec, got[i], ss, se, al, eob)
        exp_first = (np.sign(blocks) * (np.abs(blocks) >> al)) << al
        assert np.array_equal(
            got[:, ss : se + 1], exp_first[:, ss : se + 1]
        )
        bw2 = _BitWriter()
        _enc_ac_refine(bw2, blocks, ss, se, 0, ac_enc)
        refine = bw2.flush() + b"\xff\xd9"
        br2 = _BitReader(refine, 0)
        eob = 0
        for i in range(nblocks):
            eob = _ac_refine_block(br2, ac_dec, got[i], ss, se, 0, eob)
        assert np.array_equal(got[:, ss : se + 1], blocks[:, ss : se + 1])

    def test_zrl_in_refinement_explicit(self):
        """A newly-significant +-1 after 20 zero-history positions with
        history coefficients interleaved — the ZRL + buffered-correction
        interleave that random content almost never produces."""
        from nshm2022db_spark.extensions.multimodal import (
            _AC_BITS_PROG, _AC_SYMS_PROG, _ac_first_block,
            _ac_refine_block, _BitReader, _BitWriter, _enc_ac_first,
            _enc_ac_refine, _huff_decode_table, _huff_encode_table,
        )

        blocks = np.zeros((2, 64), np.int64)
        blocks[0, 2] = 7    # history (|v|>>1 == 3)
        blocks[0, 40] = -1  # newly significant, 37 zero-history gap
        blocks[0, 63] = 1
        blocks[1, 5] = -2   # second block: history + trailing EOB
        ss, se = 1, 63
        ac_enc = _huff_encode_table(_AC_BITS_PROG, _AC_SYMS_PROG)
        ac_dec = _huff_decode_table(_AC_BITS_PROG, _AC_SYMS_PROG)
        got = np.zeros((2, 64), np.int64)
        bw1 = _BitWriter()
        _enc_ac_first(bw1, blocks, ss, se, 1, ac_enc)
        br = _BitReader(bw1.flush() + b"\xff\xd9", 0)
        eob = 0
        for i in range(2):
            eob = _ac_first_block(br, ac_dec, got[i], ss, se, 1, eob)
        bw2 = _BitWriter()
        _enc_ac_refine(bw2, blocks, ss, se, 0, ac_enc)
        br2 = _BitReader(bw2.flush() + b"\xff\xd9", 0)
        eob = 0
        for i in range(2):
            eob = _ac_refine_block(br2, ac_dec, got[i], ss, se, 0, eob)
        assert np.array_equal(got, blocks)


class TestAVIAndPQLaws:
    """r12 final sweep: randomized laws for the AVI container and the
    PQ encode/ADC invariants."""

    @settings(max_examples=20, deadline=None)
    @given(
        nframes=st.integers(1, 6),
        w=st.integers(1, 5), h=st.integers(1, 4),
        fps=st.integers(1, 60),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_avi_mjpeg_frame_count_and_fps_roundtrip(
        self, nframes, w, h, fps, seed
    ):
        """Any frame stack round-trips through the container with the
        frame COUNT and fps exact; pixel content is within the JPEG
        tolerance of a direct encode/decode of the same frame."""
        from nshm2022db_spark.extensions.multimodal import (
            decode_avi_mjpeg, decode_jpeg, encode_avi_mjpeg, encode_jpeg,
        )

        rng = np.random.RandomState(seed % 2**32)
        frames = [
            rng.randint(0, 256, (h * 8, w * 8)).astype(np.uint8)
            for _ in range(nframes)
        ]
        got_fps, out = decode_avi_mjpeg(encode_avi_mjpeg(frames, fps))
        assert got_fps == fps and len(out) == nframes
        for f, o in zip(frames, out):
            direct = decode_jpeg(encode_jpeg(f))
            assert np.array_equal(o, direct)  # container adds NOTHING

    @settings(max_examples=20, deadline=None)
    @given(
        n=st.integers(17, 60),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_pq_encode_invariants(self, n, seed):
        """Codes are in range, a codebook vector encodes to ITSELF
        (zero distance to its own subvectors), and the sequential
        sub-distance matches an explicit Python fold."""
        from nshm2022db_spark.extensions.similarity import (
            PQ_K, PQ_M, PQ_SUB, _pq_sqdists,
        )

        rng = np.random.RandomState(seed % 2**32)
        V = rng.randn(n, PQ_M * PQ_SUB)
        cb = V[:PQ_K].reshape(PQ_K, PQ_M, PQ_SUB).transpose(1, 0, 2)
        d = _pq_sqdists(V, cb)
        codes = d.argmin(-1)
        assert codes.min() >= 0 and codes.max() < PQ_K
        # codebook rows encode to their own index in every subspace
        for c in range(PQ_K):
            assert (codes[c] == c).all()
        # sequential-fold agreement at one probed cell
        i, j, c = n - 1, PQ_M - 1, PQ_K - 1
        s = 0.0
        for x, y in zip(V[i, j * PQ_SUB:(j + 1) * PQ_SUB], cb[j, c]):
            s += (x - y) * (x - y)
        assert d[i, j, c] == s


class TestGIFLZWLaws:
    """r12: randomized GIF round-trip — the LZW width-growth/reset
    logic and the interlace scatter explored over arbitrary palette
    sizes, dims, and frame counts."""

    @settings(max_examples=30, deadline=None)
    @given(
        nbits=st.integers(1, 8),
        w=st.integers(1, 40), h=st.integers(1, 30),
        nframes=st.integers(1, 3),
        interlace=st.booleans(),
        low_card=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def test_gif_roundtrip(self, nbits, w, h, nframes, interlace,
                           low_card, seed):
        from nshm2022db_spark.extensions.multimodal import (
            decode_gif, encode_gif,
        )

        rng = np.random.RandomState(seed % 2**32)
        n = 1 << nbits
        pal = rng.randint(0, 256, (n, 3)).astype(np.uint8)
        # low-cardinality indices make long runs (deep LZW chains and,
        # for big dims, table resets); full-cardinality stresses width
        hi = 2 if (low_card and n > 2) else n
        frames = [
            rng.randint(0, hi, (h, w)).astype(np.uint8)
            for _ in range(nframes)
        ]
        got, delay = decode_gif(
            encode_gif(frames, pal, interlace=interlace)
        )
        assert len(got) == nframes
        assert delay == (4 if nframes > 1 else 0)
        for f, g in zip(frames, got):
            assert np.array_equal(g, pal[f])


class TestGifCompositorLaws:
    """Property: decode_gif(encode_gif(frames, boxes, disposals,
    transparent)) equals an independent straight-line compositor model
    (paint region, honor transparency, apply disposal) for arbitrary
    delta animations — the law the r13 compositing leg rests on."""

    @staticmethod
    def _model(screen_hw, pal, frames, boxes, disposals, transparent, bg):
        h, w = screen_hw
        bg_rgb = pal[bg] if bg < len(pal) else np.zeros(3, np.uint8)
        canvas = np.broadcast_to(bg_rgb, (h, w, 3)).copy()
        out = []
        for f, (left, top), disp in zip(frames, boxes, disposals):
            fh, fw = f.shape
            prev = canvas.copy() if disp == 3 else None
            region = canvas[top : top + fh, left : left + fw]
            if transparent is not None:
                m = f != transparent
                region[m] = pal[f][m]
            else:
                region[:] = pal[f]
            out.append(canvas.copy())
            if disp == 2:
                canvas[top : top + fh, left : left + fw] = bg_rgb
            elif disp == 3:
                canvas = prev
        return out

    @given(st.data())
    @settings(max_examples=25, deadline=None)
    def test_decode_matches_model(self, data):
        from nshm2022db_spark.extensions.multimodal import (
            decode_gif, encode_gif,
        )

        rng_seed = data.draw(st.integers(0, 2**31 - 1))
        rng = np.random.default_rng(rng_seed)
        h = data.draw(st.integers(3, 12))
        w = data.draw(st.integers(3, 12))
        npal = data.draw(st.sampled_from([4, 8, 16]))
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        transparent = data.draw(
            st.one_of(st.none(), st.integers(0, npal - 1))
        )
        nf = data.draw(st.integers(1, 4))
        frames, boxes, disposals = [], [], []
        # frame 0 full-screen so the first canvas is fully defined
        frames.append(rng.integers(0, npal, (h, w), dtype=np.uint8))
        boxes.append((0, 0))
        disposals.append(data.draw(st.integers(0, 3)))
        for _ in range(nf - 1):
            fh = data.draw(st.integers(1, h))
            fw = data.draw(st.integers(1, w))
            top = data.draw(st.integers(0, h - fh))
            left = data.draw(st.integers(0, w - fw))
            frames.append(rng.integers(0, npal, (fh, fw), dtype=np.uint8))
            boxes.append((left, top))
            disposals.append(data.draw(st.integers(0, 3)))
        blob = encode_gif(
            frames, pal, boxes=boxes, disposals=disposals,
            transparent=transparent,
        )
        got, _ = decode_gif(blob)
        want = self._model(
            (h, w), pal, frames, boxes, disposals, transparent, bg=0
        )
        assert len(got) == len(want)
        for g, m in zip(got, want):
            assert np.array_equal(g, m)


class TestSimhashFoldModel:
    """The Arrow-batched per-row simhash fold against an INDEPENDENT
    pure-Python model (tokens → char-hash fold → distinct 3-gram
    combines → ±1 bit sums → sign bits) over seeded random strings —
    the parity the streaming admission operator rides on. Unlike the
    jaccard family, simhash does NOT ascii-lower its tokens; the model
    reflects that."""

    @staticmethod
    def _py_simhash(text):
        from nshm2022db_spark.functions.portable import P
        from nshm2022db_spark.extensions.dedup import (
            SIMHASH_A,
            SIMHASH_B,
            SIMHASH_BITS,
        )

        toks = TestPortableRandomized._py_tokens(text)
        hx = [TestPortableRandomized._py_char_hash(t) for t in toks]
        seen, sh = set(), []
        for i in range(len(hx) - 2):
            x = (hx[i] * 961 + hx[i + 1] * 31 + hx[i + 2]) % P
            if x not in seen:
                seen.add(x)
                sh.append(x)
        if not sh:
            return None
        sums = [0] * SIMHASH_BITS
        for x in sh:
            x2 = (x * SIMHASH_A + SIMHASH_B) % P
            for j in range(SIMHASH_BITS):
                bit = (x >> j) & 1 if j < 30 else (x2 >> (j - 30)) & 1
                sums[j] += 1 if bit else -1
        return sum(1 << j for j in range(SIMHASH_BITS) if sums[j] > 0)

    def test_random_strings_agree_with_model(self, spark):
        import random

        from nshm2022db_spark.extensions.dedup import simhash_per_row

        rng = random.Random(20260816)
        words = ["spark", "Merge", "VECTOR", "a", "bb", "x1", "\x7e", "ok"]
        texts = [
            "",  # no tokens
            "one two",  # < 3 tokens -> no shingles -> dropped
            "one two three",  # exactly one shingle
            "dup dup dup dup dup",  # all shingles identical -> 1 distinct
        ] + [
            " ".join(rng.choice(words) for _ in range(rng.randrange(0, 40)))
            for _ in range(60)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {r.doc_id: r.simhash for r in simhash_per_row(df).collect()}
        expected = {
            i: self._py_simhash(t)
            for i, t in enumerate(texts)
            if self._py_simhash(t) is not None
        }
        assert got == expected
