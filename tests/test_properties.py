"""Property-based tests (SURVEY.md §5.2 item 4, hypothesis).

Each property runs a bounded number of examples against the live Spark
session (examples are tiny inline DataFrames; Spark latency dominates, so
max_examples is kept small while still exploring the space).
"""

from datetime import datetime, timedelta
from zoneinfo import ZoneInfo

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from priority_data_pipeline_azure_sql_db_spark.config import ExtractionConfig
from priority_data_pipeline_azure_sql_db_spark.operators.flatten import (
    explode_subform,
    nest_subform,
)
from priority_data_pipeline_azure_sql_db_spark.operators.merge import merge_upsert
from priority_data_pipeline_azure_sql_db_spark.operators.watermark import watermark_filter

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

parents = st.lists(
    st.integers(min_value=0, max_value=20), min_size=1, max_size=8, unique=True
)
child_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),     # parent key (maybe orphan)
        st.integers(min_value=0, max_value=5),      # line number
        st.floats(min_value=0, max_value=100, allow_nan=False, width=32),
    ),
    max_size=20,
)


@SETTINGS
@given(pks=parents, children=child_rows)
def test_nest_explode_roundtrip_property(spark, pks, children):
    """explode(nest(parent, child)) ≡ inner join on the parent key, for any
    parent/child key distribution including orphans and empty sub-forms."""
    parent = spark.createDataFrame([(k, f"p{k}") for k in pks], "pk long, pname string")
    child = spark.createDataFrame(
        [(k, n, float(v)) for k, n, v in children] or [(None, None, None)],
        "cpk long, line int, val double",
    ).filter(F.col("cpk").isNotNull())

    nested = nest_subform(parent, child, ["pk"], ["cpk"], "sub")
    flat = explode_subform(nested, ["pk"], "sub")
    expected = parent.join(child, parent.pk == child.cpk).drop("cpk", "pname")

    got = sorted((r.pk, r.line, round(r.val, 4)) for r in flat.collect())
    want = sorted((r.pk, r.line, round(r.val, 4)) for r in expected.collect())
    assert got == want


@SETTINGS
@given(
    base=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 100)), max_size=10, unique_by=lambda t: t[0]
    ),
    delta=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 100)), max_size=10, unique_by=lambda t: t[0]
    ),
)
def test_merge_upsert_property(spark, base, delta):
    """merge(base, delta) on pk: delta wins on conflict, nothing is lost,
    no duplicate keys — for any overlap pattern."""
    b = spark.createDataFrame(base or [(None, None)], "pk long, v long").filter(
        F.col("pk").isNotNull()
    )
    d = spark.createDataFrame(delta or [(None, None)], "pk long, v long").filter(
        F.col("pk").isNotNull()
    )
    out = {r.pk: r.v for r in merge_upsert(b, d, ["pk"]).collect()}
    want = dict(base)
    want.update(dict(delta))
    assert out == want


@SETTINGS
@given(
    offsets=st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=15),
    bound=st.integers(min_value=-100, max_value=100),
)
def test_watermark_filter_property(spark, offsets, bound):
    """watermark_filter keeps exactly the rows with ts >= bound (inclusive
    lower bound, like the reference's `ge` — SURVEY.md O3)."""
    t0 = datetime(2026, 1, 1)
    rows = [(i, t0 + timedelta(hours=h)) for i, h in enumerate(offsets)]
    df = spark.createDataFrame(rows, "id long, ts timestamp")
    b = t0 + timedelta(hours=bound)
    got = {r.id for r in watermark_filter(df, "ts", b.strftime("%Y-%m-%d %H:%M:%S")).collect()}
    want = {i for i, h in enumerate(offsets) if h >= bound}
    assert got == want


@settings(max_examples=50, deadline=None)
@given(
    ts=st.datetimes(
        min_value=datetime(1990, 1, 1), max_value=datetime(2030, 12, 31),
        timezones=st.just(ZoneInfo("UTC")),
    ).map(lambda d: d.replace(microsecond=0)),
    tz=st.sampled_from(["UTC", "Asia/Jerusalem", "America/New_York", "Australia/Lord_Howe"]),
)
def test_bookmark_roundtrip_property(ts, tz):
    """UTC→local-bookmark→UTC is identity in any timezone, including
    DST-transition and half-hour-offset zones (the reference stores
    bookmarks in source-system local time — SURVEY.md O23). The only
    tolerated skew is the ambiguous fall-back hour, where a local
    wall-clock string legitimately maps to two instants."""
    cfg = ExtractionConfig(datasource_name="t", system_timezone=tz)
    s = cfg.format_bookmark(ts)
    back = cfg.to_utc(s)
    delta = abs((back - ts).total_seconds())
    assert delta <= 3600, f"{ts} {tz} -> {s} -> {back}"


asof_lefts = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100)),  # (key, ts-seconds)
    min_size=1, max_size=10,
)
asof_rights = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(0, 9)),
    min_size=0, max_size=10,
)


@given(asof_lefts, asof_rights, st.booleans(), st.sampled_from(["backward", "forward"]))
@SETTINGS
def test_asof_join_property(spark, lefts, rights, exact, direction):
    """asof_join equals the brute-force per-left-row reference on random
    small inputs across direction × exact-match settings; right-side ties
    at the same (key, ts) resolve to the greatest value (the operator's
    documented deterministic tie-break)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.asof import asof_join

    base = datetime(2026, 1, 1)
    l = spark.createDataFrame(
        [(i, k, base + timedelta(seconds=s)) for i, (k, s) in enumerate(lefts)],
        "lid int, k int, ts timestamp",
    )
    r = spark.createDataFrame(
        [(k, base + timedelta(seconds=s), v) for k, s, v in rights],
        "k int, rts timestamp, v int",
    ) if rights else spark.createDataFrame([], "k int, rts timestamp, v int")

    got = {row.lid: row.v_asof
           for row in asof_join(l, r, ["k"], "ts", "rts", ["v"],
                                direction=direction,
                                allow_exact_matches=exact).collect()}

    for i, (k, s) in enumerate(lefts):
        if direction == "backward":
            cands = [(rs, rv) for rk, rs, rv in rights
                     if rk == k and (rs <= s if exact else rs < s)]
            pick = max(cands) if cands else None  # latest ts, then greatest v
        else:
            cands = [(rs, rv) for rk, rs, rv in rights
                     if rk == k and (rs >= s if exact else rs > s)]
            # earliest ts; ties at that ts -> greatest v (struct tie-break)
            if cands:
                ts_min = min(rs for rs, _ in cands)
                pick = (ts_min, max(rv for rs, rv in cands if rs == ts_min))
            else:
                pick = None
        expect = pick[1] if pick else None
        assert got[i] == expect, (i, k, s, direction, exact, got[i], expect)


chunk_params = st.tuples(
    st.integers(min_value=1, max_value=30),   # n tokens
    st.integers(min_value=2, max_value=12),   # chunk_tokens
    st.integers(min_value=1, max_value=12),   # stride
)


@SETTINGS
@given(params=chunk_params)
def test_chunk_documents_coverage_property(spark, params):
    """For any (n, chunk, stride) with stride <= chunk: every token lands
    in >= 1 chunk, every chunk is on the stride grid with the promised
    width (short tail allowed), and no chunk is fully contained in its
    predecessor."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import chunk_documents

    n, chunk, stride = params
    if stride > chunk:
        stride = chunk  # coverage is only promised for overlapping grids
    text = " ".join(f"w{i}" for i in range(n))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    rows = sorted(
        (r.chunk_id, r.chunk_text.split(), r.n_tokens)
        for r in chunk_documents(df, chunk_tokens=chunk, stride=stride).collect()
    )
    assert rows, "at least one chunk always emits"
    covered = set()
    prev_end = -1
    for k, (cid, toks, n_tok) in enumerate(rows):
        assert cid == k
        assert len(toks) == n_tok
        start = int(toks[0][1:])
        assert start == k * stride  # on the stride grid
        end = start + len(toks) - 1
        assert len(toks) == min(chunk, n - start)  # full width or clamped tail
        assert end > prev_end  # never fully contained in the predecessor
        prev_end = end
        covered.update(toks)
    assert covered == {f"w{i}" for i in range(n)}


greedy_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),   # doc id
        st.integers(min_value=1, max_value=30),    # token count
    ),
    min_size=1, max_size=25, unique_by=lambda t: t[0],
)


@SETTINGS
@given(docs=greedy_docs, budget=st.integers(min_value=5, max_value=40))
def test_pack_greedy_property(spark, docs, budget):
    """For any doc-size distribution and budget: never split, never drop,
    next-fit semantics match the pure-Python reference on every shard."""
    from priority_data_pipeline_azure_sql_db_spark.operators.pack import pack_greedy

    rows = [(i, " ".join("w" for _ in range(n))) for i, n in docs]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").withColumn(
        "shard", (F.col("doc_id") % 3).cast("bigint")
    )
    got = pack_greedy(df, budget=budget, shard_col="shard").collect()
    assert sorted(r.doc_id for r in got) == sorted(i for i, _ in docs)
    from tests.test_operators import _pack_greedy_reference

    by_shard = {}
    for r in got:
        by_shard.setdefault(r.shard, []).append(r)
    for rows_ in by_shard.values():
        want = _pack_greedy_reference([(r.doc_id, r.n_tokens) for r in rows_], budget)
        assert sorted((r.doc_id, r.seq_id, r.offset_in_seq, r.overflow)
                      for r in rows_) == sorted(want)


scores = st.lists(
    st.floats(min_value=-2.0, max_value=3.0, allow_nan=False, width=32),
    min_size=1, max_size=30,
)


@SETTINGS
@given(vals=scores)
def test_curriculum_rank_property(spark, vals):
    """For ANY bounded-ish score multiset (ties, clamped out-of-range
    values, duplicates), the histogram-offset rank equals the naive
    global window rank and forms a 1..n permutation."""
    from pyspark.sql import Window

    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        curriculum_rank,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "doc_id long, score double"
    )
    got = {
        r.doc_id: r.curriculum_rank
        for r in curriculum_rank(df, "score").collect()
    }
    want = {
        r.doc_id: r.rk
        for r in df.withColumn(
            "rk", F.row_number().over(Window.orderBy("score", "doc_id"))
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(1, len(vals) + 1))


@SETTINGS
@given(
    vals=scores,
    num=st.integers(min_value=0, max_value=4),
    den=st.integers(min_value=4, max_value=7),
)
def test_quantile_threshold_filter_property(spark, vals, num, den):
    """For ANY score multiset and drop fraction: the realized drop
    count never exceeds floor(n*num/den), survivors are exactly the
    rows above the lowest dropped bucket, and no kept score sorts
    below a dropped one."""
    from priority_data_pipeline_azure_sql_db_spark.operators.sample import (
        quantile_threshold_filter,
        score_bucket,
    )

    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "doc_id long, score double"
    )
    kept = quantile_threshold_filter(df, "score", num, den).collect()
    n = len(vals)
    budget = (n * num) // den
    assert n - len(kept) <= budget
    if kept and len(kept) < n:
        kept_ids = {r.doc_id for r in kept}
        bucketed = df.withColumn(
            "b", score_bucket(F.col("score"))
        ).collect()
        min_kept_b = min(r.b for r in bucketed if r.doc_id in kept_ids)
        max_drop_b = max(r.b for r in bucketed if r.doc_id not in kept_ids)
        assert max_drop_b < min_kept_b


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),                  # group key
            st.floats(min_value=-5, max_value=5,
                      allow_nan=False, width=32),              # measure
        ),
        min_size=1, max_size=25,
    ),
    cut=st.integers(min_value=0, max_value=25),
)
def test_combine_rollups_property(spark, rows, cut):
    """Splitting the fact rows at ANY point and merging per-slice
    rollups reproduces the one-pass rollup exactly (decimal partials)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import (
        combine_rollups,
    )

    def rollup(d):
        return d.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.col("v").cast("decimal(18,6)")).alias("s"),
        )

    data = [(k, float(v)) for k, v in rows]
    cut = min(cut, len(data))
    df = spark.createDataFrame(data, "k string, v double")
    a = spark.createDataFrame(data[:cut] or [("zz", None)], "k string, v double") \
        .filter(F.col("v").isNotNull())
    b = spark.createDataFrame(data[cut:] or [("zz", None)], "k string, v double") \
        .filter(F.col("v").isNotNull())
    full = {(r.k): (r.n, r.s) for r in rollup(df).collect()}
    merged = {
        (r.k): (r.n, r.s)
        for r in combine_rollups([rollup(a), rollup(b)], ["k"], ["n", "s"]).collect()
    }
    assert merged == full


er_names = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=60),  # id
        st.text(alphabet="abcx", min_size=3, max_size=6),  # noisy short name
        st.integers(min_value=0, max_value=2),   # block group
    ),
    min_size=2,
    max_size=18,
    unique_by=lambda t: t[0],
)


@SETTINGS
@given(rows=er_names, cut=st.integers(min_value=0, max_value=4))
def test_er_index_append_rebuild_property(spark, tmp_path_factory, rows, cut):
    """For ANY corpus of short noisy names and ANY build/append split,
    building the ER cluster store from one part and appending the rest
    yields EXACTLY the cluster map of a fresh full-corpus build — the
    store's rebuild-equality contract under arbitrary merge topologies
    (edit-distance-1 chains on a 4-letter alphabet merge aggressively,
    so appended records routinely bridge several standing clusters)."""
    from priority_data_pipeline_azure_sql_db_spark.operators import er_index as EI

    df = spark.createDataFrame(rows, "id bigint, name string, grp int")
    part_a = df.filter(F.col("id") % 5 >= cut)
    part_b = df.filter(F.col("id") % 5 < cut)
    kw = dict(key_col="name", id_col="id", block_cols=["grp"],
              max_edit=1, n_buckets=4)

    base = str(tmp_path_factory.mktemp("er_prop"))
    p_inc, p_full = base + "/inc", base + "/full"
    if part_a.count() == 0:
        return  # build needs a non-empty base
    EI.build_er_index(part_a, p_inc, **kw)
    EI.append_to_er_index(spark, p_inc, part_b)
    EI.build_er_index(df, p_full, **kw)
    cmap = lambda p: sorted(  # noqa: E731
        (r.node, r.cluster_id)
        for r in EI.read_er_clusters(spark, p).collect()
    )
    assert cmap(p_inc) == cmap(p_full)


@SETTINGS
@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    q=st.integers(min_value=15, max_value=97),
    seed=st.integers(min_value=0, max_value=2**31),
    sub=st.sampled_from(["4:4:4", "4:2:0", "4:2:2"]),
)
def test_jpeg_progressive_equals_baseline_property(h, w, q, seed, sub):
    """For ANY image content/size/quality/subsampling, the progressive
    and baseline encodings decode to IDENTICAL pixels (they share
    quantized coefficients) — the spec-consistency property of the
    whole Annex G scan machinery under arbitrary coefficient
    distributions."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3)
    ).astype(np.uint8)
    base = codecs.decode_jpeg(codecs.encode_jpeg(px, quality=q, subsample=sub))
    prog = codecs.decode_jpeg(
        codecs.encode_jpeg_progressive(px, quality=q, subsample=sub)
    )
    assert np.array_equal(base, prog)


@SETTINGS
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31),
    alpha=st.booleans(),
)
def test_png_adam7_lossless_property(h, w, seed, alpha):
    """For ANY pixel content and dimensions (including the degenerate
    sub-8 sizes where most Adam7 passes are empty), interlaced encode →
    decode is the identity, and equals the sequential path."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    ch = 4 if alpha else 3
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, ch)
    ).astype(np.uint8)
    assert np.array_equal(
        codecs.decode_png(codecs.encode_png(px, interlace=True)), px
    )
    assert np.array_equal(codecs.decode_png(codecs.encode_png(px)), px)


@SETTINGS
@given(
    n_frames=st.integers(min_value=1, max_value=6),
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    fps_milli=st.integers(min_value=1, max_value=120_000),
    q=st.integers(min_value=50, max_value=95),
    sub=st.sampled_from(["4:4:4", "4:2:0"]),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_avi_mjpeg_roundtrip_property(n_frames, h, w, fps_milli, q, sub, seed):
    """For ANY frame count, dimensions (including 1x1 and odd sizes that
    exercise chroma-padding), millihertz fps, quality, and subsampling:
    mux → demux returns the per-frame JPEG payloads verbatim in order
    with the exact fps rational, and the decoded frames equal the
    component decoder's output pixel-for-pixel."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
        for _ in range(n_frames)
    ]
    fps = fps_milli / 1000.0
    blob = codecs.encode_avi_mjpeg(frames, fps=fps, quality=q, subsample=sub)
    got_fps, payloads = codecs.avi_frame_payloads(blob)
    assert got_fps == round(fps * 1000) / 1000
    assert payloads == [
        codecs.encode_jpeg(f, quality=q, subsample=sub) for f in frames
    ]
    _, decoded = codecs.decode_avi_frames(blob)
    for p, arr in zip(payloads, decoded):
        assert np.array_equal(arr, codecs.decode_jpeg(p))


@SETTINGS
@given(
    cut_frac=st.floats(min_value=0.0, max_value=0.999),
    flip_at_frac=st.floats(min_value=0.0, max_value=0.999),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_avi_total_over_damage_property(cut_frac, flip_at_frac, seed):
    """For ANY truncation point the demuxer raises ValueError (the RIFF
    size field makes every byte loss detectable), and for ANY single
    flipped byte it either still demuxes (payload damage is the frame
    decoder's job), raises the advertised ValueError, or raises the
    honest NotImplementedError (a flip landing in the handler fourcc) —
    never IndexError/struct.error/RecursionError."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs

    rng = np.random.default_rng(seed)
    frames = [
        rng.integers(0, 256, size=(6, 6, 3)).astype(np.uint8) for _ in range(3)
    ]
    blob = codecs.encode_avi_mjpeg(frames, fps=10.0)

    with pytest.raises(ValueError):
        codecs.avi_frame_payloads(blob[: int(len(blob) * cut_frac)])

    flipped = bytearray(blob)
    pos = int(len(blob) * flip_at_frac)
    flipped[pos] ^= 0x5A
    try:
        _, payloads = codecs.avi_frame_payloads(bytes(flipped))
        assert 1 <= len(payloads) <= 4  # at most one boundary broke
    except (ValueError, NotImplementedError):
        pass


# ---------------------------------------------------------------------------
# round-10 review-fix properties
# ---------------------------------------------------------------------------

_texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab |.\t")), min_size=0, max_size=24
    ),
    min_size=1, max_size=6,
)


@SETTINGS
@given(texts=_texts)
def test_token_count_matches_python_reference(spark, texts):
    """token_count ≡ len(text.split()) for ANY text incl. empty /
    whitespace-only / metacharacter-heavy (the phantom-token fix)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.text import token_count

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {r.i: r.n for r in df.select(
        "i", token_count(F.col("text")).alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(t.split()), (t, got[i])


@SETTINGS
@given(
    sep=st.sampled_from(["|", ".", "*", "+", "(", "\\", "\n", "x"]),
    lines=st.lists(
        st.text(alphabet=st.sampled_from(list("abc ")), min_size=1, max_size=8),
        min_size=1, max_size=5,
    ),
)
def test_boilerplate_separator_literal_roundtrip(spark, sep, lines):
    """With min_docs high enough that NOTHING is boilerplate, split +
    reassemble over ANY separator (incl. every regex metacharacter) is
    the identity — the \\Q..\\E quoting property."""
    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        remove_boilerplate_lines,
    )

    text = sep.join(lines)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = remove_boilerplate_lines(df, sep=sep, min_docs=99, drop_empty=False)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].text == text


@SETTINGS
@given(
    payloads=st.lists(
        st.text(alphabet=st.sampled_from(list("xyz")), min_size=1, max_size=4),
        min_size=2, max_size=5,
    ),
    nparts=st.integers(min_value=1, max_value=8),
)
def test_dedup_within_tie_partition_invariant(spark, payloads, nparts):
    """dedup_within's winner under full order_col ties is invariant to
    input partitioning and row order (content-hash tiebreak)."""
    from priority_data_pipeline_azure_sql_db_spark.operators.merge import dedup_within

    rows = [(1, 7, p) for p in payloads]
    a = spark.createDataFrame(rows, "pk long, ver long, v string")
    b = spark.createDataFrame(list(reversed(rows)), "pk long, ver long, v string") \
        .repartition(nparts)
    va = dedup_within(a, ["pk"], "ver").collect()[0].v
    vb = dedup_within(b, ["pk"], "ver").collect()[0].v
    assert va == vb


@SETTINGS
@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    n_frames=st.integers(min_value=1, max_value=4),
    levels=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    delay=st.integers(min_value=0, max_value=20),
)
def test_gif_roundtrip_property(h, w, n_frames, levels, seed, delay):
    """encode_gif → decode_gif_frames is the pixel identity for ANY
    (h, w) shape, frame count, palette size (incl. the 1-color and
    power-of-two depth edges), and delay — the palette-exact contract.
    fps replays 100/delay for animations (10.0 default for delay 0 and
    for single frames, which carry no graphic control block). No Spark
    session: the codec layer is pure numpy."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.RandomState(seed)
    frames = [
        (rng.randint(0, levels, (h, w, 3)) * (255 // max(levels - 1, 1))
         ).astype(np.uint8)
        for _ in range(n_frames)
    ]
    blob = C.encode_gif(frames if n_frames > 1 else frames[0],
                        delay_cs=delay)
    fps, out = C.decode_gif_frames(blob)
    assert len(out) == n_frames
    for want, got in zip(frames, out):
        assert np.array_equal(want, got)
    if n_frames == 1 or delay == 0:
        assert fps == 10.0
    else:
        assert fps == 100.0 / delay
    assert np.array_equal(C.decode_gif(blob), frames[0])


@SETTINGS
@given(
    names=st.lists(
        st.text(alphabet=st.sampled_from(list("abc xyz")), min_size=1,
                max_size=12).map(lambda s: s.strip() or "a"),
        min_size=2, max_size=10, unique=True,
    ),
)
def test_multi_pass_blocking_superset_property(spark, names):
    """Multi-pass blocking's candidate set is a SUPERSET of every
    single-key pass (union can only add recall) and a SUBSET of the
    unblocked truth (blocking only prunes, never invents) — for
    arbitrary whitespace-y name corpora, not just the curated noise
    fixtures."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        first_token_block,
        fuzzy_match_pairs,
        last_token_block,
        multi_pass_match_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(names)), "id bigint, name string"
    )
    truth = {
        (r.id_a, r.id_b)
        for r in fuzzy_match_pairs(
            df.withColumn("_one", F.lit(1)),
            key_col="name", id_col="id", block_cols=["_one"], max_edit=2,
        ).collect()
    }
    keys = {"first": first_token_block("name"),
            "last": last_token_block("name")}
    multi = {
        (r.id_a, r.id_b)
        for r in multi_pass_match_pairs(
            df, key_col="name", id_col="id", block_keys=keys, max_edit=2,
        ).collect()
    }
    assert multi <= truth
    for kname, key in keys.items():
        single = {
            (r.id_a, r.id_b)
            for r in fuzzy_match_pairs(
                df.withColumn("_blk", key),
                key_col="name", id_col="id", block_cols=["_blk"],
                max_edit=2,
            ).collect()
        }
        assert single <= multi, f"pass {kname} escaped the union"


scd2_logs = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),    # entity
        st.sampled_from(["a", "b", "c", None]),   # state (incl. NULL)
        st.integers(min_value=1, max_value=6),    # day (ties likely)
    ),
    min_size=1, max_size=14,
)


@SETTINGS
@given(log=scd2_logs)
def test_scd2_history_invariants_property(spark, log):
    """SCD2 build invariants under arbitrary logs WITH same-instant
    ties (the round-11 Kimball fix): per entity — exactly one
    is_current row (valid_to NULL ⟺ current), intervals chain
    half-open with valid_to = the next valid_from, (pk, valid_from) is
    UNIQUE (no zero-length [t,t) version rows), consecutive runs carry
    DIFFERENT states, and the row set is invariant to input row order
    and partitioning."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import scd2_history

    rows = [
        (e, s, DT(2026, 1, d), i) for i, (e, s, d) in enumerate(log)
    ]
    df = spark.createDataFrame(
        rows, "pk bigint, state string, ts timestamp, eid bigint"
    )
    out = scd2_history(
        df, pk=["pk"], attr_cols=["state"], ts_col="ts",
        tiebreak_cols=["eid"],
    ).collect()
    by_pk = {}
    for r in out:
        by_pk.setdefault(r.pk, []).append(r)
    for pk, rs in by_pk.items():
        rs.sort(key=lambda r: r.valid_from)
        # one current row, and it is the last
        assert sum(r.is_current for r in rs) == 1
        assert rs[-1].is_current and rs[-1].valid_to is None
        # (pk, valid_from) unique — no zero-length phantom versions
        froms = [r.valid_from for r in rs]
        assert len(set(froms)) == len(froms)
        for a, b in zip(rs, rs[1:]):
            assert a.valid_to == b.valid_from  # half-open chaining
            assert a.state != b.state or (
                (a.state is None) != (b.state is None)
            )  # consecutive runs differ (NULL-safely)

    # row-order / partitioning invariance
    df2 = spark.createDataFrame(
        list(reversed(rows)),
        "pk bigint, state string, ts timestamp, eid bigint",
    ).repartition(5)
    out2 = scd2_history(
        df2, pk=["pk"], attr_cols=["state"], ts_col="ts",
        tiebreak_cols=["eid"],
    ).collect()
    key = lambda r: (r.pk, str(r.state), r.valid_from, str(r.valid_to),
                     r.is_current)
    assert sorted(map(key, out)) == sorted(map(key, out2))


@SETTINGS
@given(log=scd2_logs, cut=st.integers(min_value=0, max_value=13))
def test_scd2_apply_delta_equals_rebuild_property(spark, log, cut):
    """scd2_apply_delta's contract under random logs with ties and an
    ARBITRARY base/delta split (incl. out-of-order arrivals: the delta
    can hold earlier timestamps than the base): incremental fold ≡
    one-pass rebuild of the full log, exactly."""
    from datetime import datetime as DT

    from priority_data_pipeline_azure_sql_db_spark.operators.merge import (
        scd2_apply_delta,
        scd2_history,
    )

    rows = [
        (e, s, DT(2026, 1, d), i) for i, (e, s, d) in enumerate(log)
    ]
    cut = min(cut, len(rows))
    base, delta = rows[:cut], rows[cut:]
    schema = "pk bigint, state string, ts timestamp, eid bigint"
    base_df = spark.createDataFrame(base, schema)
    delta_df = spark.createDataFrame(delta, schema)
    kw = dict(pk=["pk"], attr_cols=["state"], ts_col="ts",
              tiebreak_cols=["eid"])
    standing = scd2_history(base_df, **kw)
    inc = scd2_apply_delta(standing, base_df, delta_df, **kw).collect()
    full = scd2_history(
        spark.createDataFrame(rows, schema), **kw
    ).collect()
    key = lambda r: (r.pk, str(r.state), r.valid_from, str(r.valid_to),
                     r.is_current)
    assert sorted(map(key, inc)) == sorted(map(key, full))


merge_seq = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # pk
            st.integers(min_value=1, max_value=5),    # load day
            st.text(alphabet="abc", min_size=1, max_size=3),  # value
        ),
        min_size=0, max_size=6,
    ),
    min_size=1, max_size=4,
)


@SETTINGS
@given(seq=merge_seq)
def test_staging_merge_zone_map_property(spark, seq, tmp_path_factory):
    """Round-13 zone maps under RANDOM merge sequences (repeated keys,
    key moves across load dates, empty deltas, duplicate keys within a
    delta): the store's final content must equal a driver-side
    reference fold of GROUP-replace semantics — a single wrong prune
    (a partition holding an old key version skipped by its min/max)
    surfaces as a stale duplicate or a lost row here. Also asserts the
    returned count matches the reference's row count at every step
    (the footer row accounting never drifts)."""
    from pyspark.sql import functions as F2

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(str(tmp_path_factory.mktemp("zstg")))

    # reference model: dict pk -> list of (day, v) rows (GROUP-replace:
    # a delta's key group replaces the standing group wholesale)
    ref: dict[int, list] = {}
    first = True
    for run, delta in enumerate(seq):
        rows = [(pk, f"2026-01-0{day} 12:00:00", v) for pk, day, v in delta]
        df = spark.createDataFrame(
            rows, "pk bigint, extractiontimestamputc string, v string"
        ).withColumn("extractionid", F2.lit(f"run-{run}")).withColumn(
            "extractiontimestamputc",
            F2.col("extractiontimestamputc").cast("timestamp"),
        )
        if first:
            n = store.overwrite(df, "t")
            ref = {}
            first = False
        else:
            n = store.merge(spark, df, "t", ["pk"])
        groups: dict[int, list] = {}
        for pk, day, v in delta:
            groups.setdefault(pk, []).append((day, v))
        for pk, g in groups.items():
            ref[pk] = g
        assert n == sum(len(g) for g in ref.values())
    if not store.exists("t"):
        # an empty FIRST load truncates (removes) the table; it only
        # reappears on the first non-empty delta
        assert ref == {} or all(not g for g in ref.values())
        return
    got = sorted(
        (r.pk, int(str(r.extractiontimestamputc)[9]), r.v)
        for r in store.read(spark, "t").collect()
    )
    want = sorted(
        (pk, day, v) for pk, g in ref.items() for day, v in g
    )
    assert got == want


composite_merge_seq = st.lists(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),    # tenant: hot, few
            st.integers(min_value=0, max_value=9),    # seq: the real key
            st.integers(min_value=1, max_value=5),    # load day
            st.text(alphabet="ab", min_size=1, max_size=2),  # value
        ),
        min_size=0, max_size=6,
    ),
    min_size=1, max_size=4,
)


@SETTINGS
@given(seq=composite_merge_seq)
def test_staging_merge_composite_zone_map_property(
        spark, seq, tmp_path_factory):
    """Round-17 composite zone maps under RANDOM merge sequences: pk =
    (tenant, seq) where tenant is deliberately hot (3 values — the
    first-key range is near-useless, so the per-column seq pruning is
    what actually gates partition reads). The store's final content
    must equal a driver-side GROUP-replace reference fold keyed on the
    FULL tuple — a wrong prune on EITHER column (a partition holding an
    old key version skipped by its per-column ranges) surfaces as a
    stale duplicate or lost row, and the returned count must match the
    reference at every step (footer row accounting under composite
    stats)."""
    from pyspark.sql import functions as F2

    from priority_data_pipeline_azure_sql_db_spark.pipeline import StagingStore

    store = StagingStore(str(tmp_path_factory.mktemp("czstg")))
    pk = ["tenant", "seq"]
    ref: dict[tuple, list] = {}
    first = True
    for run, delta in enumerate(seq):
        rows = [(t, s, f"2026-01-0{day} 12:00:00", v)
                for t, s, day, v in delta]
        df = spark.createDataFrame(
            rows,
            "tenant bigint, seq bigint, extractiontimestamputc string, "
            "v string",
        ).withColumn("extractionid", F2.lit(f"run-{run}")).withColumn(
            "extractiontimestamputc",
            F2.col("extractiontimestamputc").cast("timestamp"),
        )
        if first:
            n = store.overwrite(df, "t")
            ref = {}
            first = False
        else:
            n = store.merge(spark, df, "t", pk)
        groups: dict[tuple, list] = {}
        for t, s, day, v in delta:
            groups.setdefault((t, s), []).append((day, v))
        for key, g in groups.items():
            ref[key] = g
        assert n == sum(len(g) for g in ref.values())
    if not store.exists("t"):
        assert ref == {} or all(not g for g in ref.values())
        return
    got = sorted(
        (r.tenant, r.seq, int(str(r.extractiontimestamputc)[9]), r.v)
        for r in store.read(spark, "t").collect()
    )
    want = sorted(
        (t, s, day, v) for (t, s), g in ref.items() for day, v in g
    )
    assert got == want


footer_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
        st.one_of(st.none(), st.sampled_from(
            [float("nan"), -0.0, 0.0, 1.5, -2.25])),
        st.one_of(st.none(), st.text(alphabet="aZé日😀", max_size=3)),
        st.one_of(st.none(), st.integers(min_value=1, max_value=3)),  # day
    ),
    max_size=12,
)


@SETTINGS
@given(rows=footer_rows,
       order=st.permutations(["ki", "kf", "ks"]),
       width=st.integers(min_value=1, max_value=3))
def test_stage_footer_zone_map_property(
        spark, rows, order, width, tmp_path_factory):
    """The zone map folded from a table's live parquet footers
    (``_fold_footers``). On random partitioned frames spread over
    several files per partition (pk values that are null or NaN,
    non-ASCII strings, composite keys of mixed types, null load dates
    landing in the ``__HIVE_DEFAULT_PARTITION__`` sub) it must equal
    Spark's own per-partition min/max/has-null mapped through
    ``_stat_val``, with exact row counts."""
    from pyspark.sql import functions as F2

    from priority_data_pipeline_azure_sql_db_spark.pipeline import (
        PARTITION_COL,
        StagingStore,
    )

    pk = list(order[:width])
    store = StagingStore(str(tmp_path_factory.mktemp("fstg")))
    df = spark.createDataFrame(
        [(ki, kf, ks, f"2026-01-0{d} 12:00:00" if d else None)
         for ki, kf, ks, d in rows],
        "ki bigint, kf double, ks string, extractiontimestamputc string",
    ).withColumn("extractiontimestamputc",
                 F2.col("extractiontimestamputc").cast("timestamp"))
    df = df.repartition(3)
    store.overwrite(df, "t")
    got = StagingStore._fold_footers(store.path("t"), pk)[0]
    part = store._with_partition(df)

    aggs = [F2.count(F2.lit(1)).alias("_n")]
    for c in pk:
        aggs += [F2.min(c).alias(f"lo_{c}"), F2.max(c).alias(f"hi_{c}"),
                 F2.max(F2.col(c).isNull()).alias(f"null_{c}")]
    want = {}
    for r in part.groupBy(PARTITION_COL).agg(*aggs).collect():
        stats = {c: {"min": StagingStore._stat_val(r[f"lo_{c}"]),
                     "max": StagingStore._stat_val(r[f"hi_{c}"]),
                     "null": bool(r[f"null_{c}"])} for c in pk}
        entry = {"rows": r["_n"], **stats[pk[0]]}
        if len(pk) > 1:
            entry["cols"] = {c: stats[c] for c in pk[1:]}
        want[StagingStore._part_sub(r[PARTITION_COL])] = entry
    assert got == want


# ---------------------------------------------------------------------------
# ADPCM codec properties (round 14) — pure-Python kernels, no Spark, so
# these can afford real example counts.
# ---------------------------------------------------------------------------

_audio = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=1, max_size=900,
)


@settings(max_examples=40, deadline=None)
@given(
    vals=_audio,
    stereo=st.booleans(),
    fam=st.sampled_from(["ima", "ms"]),
    spb_pick=st.integers(min_value=0, max_value=2),
)
def test_adpcm_roundtrip_structure_property(vals, stereo, fam, spb_pick):
    """For BOTH ADPCM families, any audio, any channel count, several
    block sizes: (a) encode is deterministic; (b) decode(encode(x)) is
    length-exact (the fact chunk trims the final block's pad) with the
    channel count preserved; (c) every decoded sample is in [-1, 1];
    (d) the per-block verbatim header samples are bit-exact after
    input quantization — frame 0 (and frame 1 for MS) of the FIRST
    block, which survives any trim."""
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    x = np.array(vals, dtype=np.float64)
    if stereo:
        x = np.stack([x, -x], axis=1)
    if fam == "ima":
        spb = [9, 257, 505][spb_pick]
        enc = lambda a: C.encode_wav_adpcm(8000, a, samples_per_block=spb)  # noqa: E731
        n_exact = 1
    else:
        spb = [4, 256, 500][spb_pick]
        if len(x) < 2:
            return  # MS needs two header samples; 1-frame audio pads to 2+
        enc = lambda a: C.encode_wav_ms_adpcm(8000, a, samples_per_block=spb)  # noqa: E731
        n_exact = 2
    blob = enc(x)
    assert blob == enc(x)  # deterministic
    rate, frames = C.decode_wav(blob)
    assert rate == 8000
    want_frames = len(x) if x.ndim == 1 else x.shape[0]
    assert frames.shape == (want_frames, 2 if stereo else 1)
    assert np.all(frames >= -1.0) and np.all(frames <= 1.0)
    arr = x if x.ndim == 2 else x[:, None]
    q = np.clip(np.round(arr * 32768.0), -32768, 32767) / 32768.0
    for f in range(min(n_exact, want_frames)):
        assert np.array_equal(frames[f], q[f]), (f, frames[f], q[f])


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=3, max_value=400),
    cut=st.integers(min_value=1, max_value=64),
    fam=st.sampled_from(["ima", "ms"]),
)
def test_adpcm_truncation_dichotomy_property(n, cut, fam):
    """Cutting k bytes off the data chunk (container sizes rewritten to
    stay self-consistent) either decodes a SHORTER-OR-EQUAL stream
    (short final block accepted) or raises ValueError (header-short /
    broken stereo group) — never crashes, never returns MORE frames,
    and the accept/reject split lands exactly where the block math
    says it must for mono."""
    import struct as stc

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    x = np.linspace(-0.5, 0.5, n)
    if fam == "ima":
        blob, hdr = C.encode_wav_adpcm(8000, x, samples_per_block=9), 4
    else:
        blob, hdr = C.encode_wav_ms_adpcm(8000, x, samples_per_block=4), 7
    # locate the data chunk and rebuild the container cut bytes short
    pos = 12
    while True:
        cid, size = stc.unpack_from("<4sI", blob, pos)
        if cid == b"data":
            break
        pos += 8 + size + (size & 1)
    body = blob[pos + 8: pos + 8 + size]
    k = min(cut, len(body) - 1)
    short = body[:-k]
    rebuilt = (
        blob[:4] + stc.pack("<I", len(blob) - 8 - k)
        + blob[8:pos] + b"data" + stc.pack("<I", len(short)) + short
    )
    _, full = C.decode_wav(blob)
    block_align = 8  # ima: 4 + (9-1)//2; ms: 7 + (4-2)//2 — both 8 at these spb
    tail = len(short) % block_align
    try:
        _, got = C.decode_wav(rebuilt)
    except ValueError:
        # legal only when the final block lost header bytes
        assert 0 < tail < hdr, (fam, tail)
        return
    assert 0 <= got.shape[0] <= full.shape[0]
    assert tail == 0 or tail >= hdr, (fam, tail)


# ---------------------------------------------------------------------------
# round-15 ADVICE fix: decoder-totality invariant
# ---------------------------------------------------------------------------


def test_every_public_decoder_carries_totality_wrapper():
    """Structural invariant (round-15 ADVICE, medium): every public
    decode_* (plus the header-only wav_audio_format router) must carry
    the _total_decoder wrapper that normalizes IndexError/KeyError/
    struct.error/zlib.error to ValueError — decode_wav silently lost it
    in round 14 when wav_audio_format was inserted between the decorator
    and the def, which would have turned a byte-flip escape into a whole
    Spark-task failure instead of extract_features' tagged stub."""
    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    public = [n for n in dir(C) if n.startswith("decode_")]
    public.append("wav_audio_format")
    missing = [n for n in public
               if not getattr(getattr(C, n), "_total_fmt", None)]
    assert not missing, f"decoders missing @_total_decoder: {missing}"


@SETTINGS
@given(
    fam=st.sampled_from(["pcm", "ima", "ms", "ulaw", "alaw"]),
    flip_at_frac=st.floats(min_value=0.0, max_value=0.999),
    xor=st.integers(min_value=1, max_value=255),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_wav_decode_total_over_byte_flips_property(fam, flip_at_frac, xor, seed):
    """Behavioral totality for all five WAV families (PCM, IMA ADPCM,
    MS ADPCM, G.711 µ-law/A-law): ANY single flipped byte either still
    decodes or raises
    the advertised ValueError/NotImplementedError, never a raw
    IndexError/KeyError/struct.error."""
    import numpy as np
    import pytest

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(seed)
    samples = (rng.random((64, 2)) * 2 - 1) * 0.8
    if fam == "pcm":
        blob = C.encode_wav(16000, samples)
    elif fam == "ima":
        blob = C.encode_wav_adpcm(16000, samples, samples_per_block=9)
    elif fam == "ms":
        blob = C.encode_wav_ms_adpcm(16000, samples, samples_per_block=4)
    else:
        blob = C.encode_wav_g711(16000, samples, law=fam)

    flipped = bytearray(blob)
    flipped[int(len(blob) * flip_at_frac)] ^= xor
    try:
        rate, arr = C.decode_wav(bytes(flipped))
        assert arr.ndim == 2
    except (ValueError, NotImplementedError):
        pass
    # the router must be total too
    try:
        C.wav_audio_format(bytes(flipped))
    except (ValueError, NotImplementedError):
        pass


# ---------------------------------------------------------------------------
# round-15 ADPCM spec-agreement pass (VERDICT r14 ask #4): both families
# were pinned by hand-computed block goldens in r13/r14, but the hand
# computation shares an author with the code. These tests compare against
# INDEPENDENT references: CPython's audioop C implementation of the
# IMA/DVI core (stdlib through 3.12), and a clean-room transcription of
# the published MS-ADPCM algorithm (coefficient pairs, adaptation table,
# idelta floor 16 — the constants typed fresh from the spec, not imported
# from the production module).
# ---------------------------------------------------------------------------


def _nibble_swap(data: bytes) -> bytes:
    """IMA WAV packs the FIRST nibble LOW; audioop packs it HIGH."""
    return bytes(((b << 4) | (b >> 4)) & 0xFF for b in data)


def test_ima_core_matches_audioop_deep_and_boundaries():
    """Our _ima_step iterated over a nibble stream must agree sample-for
    -sample AND final-state with audioop.adpcm2lin (independent C
    implementation of the same IMA spec) — on deep random streams and on
    boundary streams that pin the spec's clamps: all-0x00 floors the
    step index at 0, all-0x77 saturates the predictor at +32767 with the
    index ceiling at 88, all-0xFF saturates at -32768."""
    import struct

    import pytest

    audioop = pytest.importorskip(
        "audioop",
        reason="stdlib audioop removed in 3.13; the vendored-fixture twins keep conformance coverage alive there",
    )
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import _ima_step

    rng = np.random.default_rng(1501)
    streams = [
        bytes(rng.integers(0, 256, size=4096, dtype=np.uint8)),
        b"\x00" * 1024,
        b"\x77" * 1024,
        b"\xff" * 1024,
        bytes(rng.integers(0, 256, size=997, dtype=np.uint8)),  # odd length
    ]
    for data in streams:
        pcm, (vp, idx) = audioop.adpcm2lin(_nibble_swap(data), 2, None)
        want = list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
        pred, index, got = 0, 0, []
        for byte in data:
            for n in (byte & 0xF, byte >> 4):  # WAV low-nibble first
                pred, index = _ima_step(pred, index, n)
                got.append(pred)
        assert got == want
        assert (pred, index) == (vp, idx)
    # the boundary streams really did hit the boundaries
    pred, index = 0, 0
    for _ in range(2048):
        pred, index = _ima_step(pred, index, 0x7)
    assert (pred, index) == (32767, 88)
    for _ in range(2048):
        pred, index = _ima_step(pred, index, 0xF)
    assert pred == -32768
    for _ in range(2048):
        pred, index = _ima_step(pred, index, 0x0)
    assert index == 0


def test_ima_core_matches_vendored_audioop_fixtures():
    """The audioop-independent twin of the IMA conformance tests
    (round-16 ADVICE fix: stdlib audioop is removed in Python 3.13, so
    its reference vectors are VENDORED — generated once from audioop's
    C implementation on 3.11 and committed as tests/fixtures/
    audioop_adpcm.npz). _ima_step replayed over the reference-encoded
    nibble stream must reproduce the reference decode sample-for-sample
    with the final state, and per-state-injected vectors replay the WAV
    block-header mechanism (the fixture stores audioop's HIGH-first
    nibble order; the swap mirrors the live tests)."""
    import os

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import _ima_step

    fx = np.load(os.path.join(os.path.dirname(__file__), "fixtures",
                              "audioop_adpcm.npz"))

    def replay(data, state):
        pred, index = state
        got = []
        for byte in data:
            # audioop packs HIGH nibble first; replay in its order
            for n in (int(byte) >> 4, int(byte) & 0xF):
                pred, index = _ima_step(pred, index, n)
                got.append(pred)
        return got, (pred, index)

    got, final = replay(fx["enc"], (0, 0))
    assert got == fx["dec"].tolist()
    assert final == tuple(fx["dec_state"].tolist())
    for k in range(int(fx["n_states"][0])):
        got, final = replay(fx["enc"][:256], tuple(fx[f"st{k}_in"].tolist()))
        assert got == fx[f"st{k}_dec"].tolist(), k
        assert final == tuple(fx[f"st{k}_out"].tolist()), k


def test_ima_wav_file_decode_matches_audioop_per_block():
    """Full-file conformance: decode_wav on an encode_wav_adpcm IMA file
    must equal audioop.adpcm2lin run per block with the block header's
    (predictor, index) as initial state — i.e. our block layout
    (4-byte header whose int16 IS frame 0, low-nibble-first body) feeds
    the independently-implemented core to the same samples."""
    import struct

    import pytest

    audioop = pytest.importorskip(
        "audioop",
        reason="stdlib audioop removed in 3.13; the vendored-fixture twins keep conformance coverage alive there",
    )
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators import codecs as C

    rng = np.random.default_rng(1502)
    # a tonal + noise mix, mono, multiple blocks incl. a short final one
    t = np.arange(777) / 8000.0
    samples = (0.6 * np.sin(2 * np.pi * 440 * t)
               + 0.2 * rng.standard_normal(777)).clip(-1, 1).reshape(-1, 1)
    spb = 129  # 4-byte header + 64 body bytes per block
    blob = C.encode_wav_adpcm(8000, samples, samples_per_block=spb)
    rate, ours = C.decode_wav(blob)
    assert rate == 8000
    ours_i16 = np.round(ours[:, 0] * 32768.0).astype(np.int64)

    # walk the RIFF for fmt block_align + the fact count + the data chunk
    pos, block_align, data, n_frames = 12, None, None, None
    while pos + 8 <= len(blob):
        cid, size = struct.unpack_from("<4sI", blob, pos)
        body = blob[pos + 8: pos + 8 + size]
        if cid == b"fmt ":
            block_align = struct.unpack_from("<H", body, 12)[0]
        elif cid == b"fact":
            n_frames = struct.unpack_from("<I", body, 0)[0]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    want: list[int] = []
    for off in range(0, len(data), block_align):
        block = data[off: off + block_align]
        p, i, _ = struct.unpack_from("<hBB", block, 0)
        want.append(p)  # header sample IS frame 0 of the block
        pcm, _ = audioop.adpcm2lin(_nibble_swap(block[4:]), 2, (p, i))
        want.extend(struct.unpack(f"<{len(pcm) // 2}h", pcm))
    # the encoder pads the final block to block_align and the fact chunk
    # records the true frame count — audioop decodes the padding nibbles
    # too; the fact trim is OUR contract (length-exact round trips, r14)
    assert n_frames == 777 and len(ours_i16) == 777
    assert len(want) >= n_frames
    assert ours_i16.tolist() == want[:n_frames]


def test_ima_decode_of_audioop_encoded_stream():
    """Realistic-nibble-distribution cross-check: a stream ENCODED by
    audioop.lin2adpcm (independent encoder) must decode identically
    through our core and through audioop's own decoder."""
    import struct

    import pytest

    audioop = pytest.importorskip(
        "audioop",
        reason="stdlib audioop removed in 3.13; the vendored-fixture twins keep conformance coverage alive there",
    )
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import _ima_step

    rng = np.random.default_rng(1503)
    t = np.arange(4000) / 8000.0
    pcm = np.round((0.5 * np.sin(2 * np.pi * 330 * t)
                    + 0.3 * rng.standard_normal(4000)).clip(-1, 1)
                   * 32767).astype("<i2").tobytes()
    adpcm, _ = audioop.lin2adpcm(pcm, 2, None)
    back, _ = audioop.adpcm2lin(adpcm, 2, None)
    want = list(struct.unpack(f"<{len(back) // 2}h", back))
    pred, index, got = 0, 0, []
    for byte in _nibble_swap(adpcm):  # back to WAV low-first order
        for n in (byte & 0xF, byte >> 4):
            pred, index = _ima_step(pred, index, n)
            got.append(pred)
    assert got == want


def _ms_spec_reference_decode(block: bytes, n_channels: int) -> list[list[int]]:
    """Clean-room MS-ADPCM block decoder transcribed from the PUBLISHED
    algorithm (Microsoft ADPCM, as documented in the public multimedia
    references): constants typed fresh here, deliberately NOT imported
    from the production module, so a transcription error in either shows
    up as a fuzz mismatch."""
    import struct as st

    ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]
    COEFS = [(256, 0), (512, -256), (0, 0), (192, 64),
             (240, 0), (460, -208), (392, -232)]
    preds = [block[c] for c in range(n_channels)]
    deltas = [st.unpack_from("<h", block, n_channels + 2 * c)[0]
              for c in range(n_channels)]
    s1 = [st.unpack_from("<h", block, 3 * n_channels + 2 * c)[0]
          for c in range(n_channels)]
    s2 = [st.unpack_from("<h", block, 5 * n_channels + 2 * c)[0]
          for c in range(n_channels)]
    out = [[s2[c], s1[c]] for c in range(n_channels)]
    ch = 0
    for byte in block[7 * n_channels:]:
        for nib in (byte >> 4, byte & 0xF):
            c = ch % n_channels
            coef1, coef2 = COEFS[preds[c]]
            predictor = (s1[c] * coef1 + s2[c] * coef2) >> 8
            signed = nib - 16 if nib >= 8 else nib
            sample = predictor + signed * deltas[c]
            sample = max(-32768, min(32767, sample))
            out[c].append(sample)
            s2[c], s1[c] = s1[c], sample
            deltas[c] = max(16, (ADAPT[nib] * deltas[c]) >> 8)
            ch += 1
    return out


@SETTINGS
@given(
    n_channels=st.sampled_from([1, 2]),
    pred_idx=st.lists(st.integers(min_value=0, max_value=6), min_size=2,
                      max_size=2),
    idelta=st.integers(min_value=16, max_value=32767),
    s1=st.integers(min_value=-32768, max_value=32767),
    s2=st.integers(min_value=-32768, max_value=32767),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_ms_adpcm_matches_spec_reference_property(
        n_channels, pred_idx, idelta, s1, s2, seed):
    """Fuzz agreement between the production MS-ADPCM decoder and the
    clean-room spec transcription over arbitrary headers (all 7
    predictor coefficient pairs, extreme header samples, any legal
    idelta) and random nibble bodies — including bodies that drive the
    delta to its floor of 16 and the sample to both int16 clamps."""
    import struct as st_
    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import (
        _decode_ms_adpcm,
    )

    rng = np.random.default_rng(seed)
    body = bytes(rng.integers(0, 256, size=32, dtype=np.uint8))
    hdr = b"".join([
        bytes(pred_idx[:n_channels]),
        b"".join(st_.pack("<h", idelta) for _ in range(n_channels)),
        b"".join(st_.pack("<h", s1) for _ in range(n_channels)),
        b"".join(st_.pack("<h", s2) for _ in range(n_channels)),
    ])
    block = hdr + body
    got = _decode_ms_adpcm(block, n_channels, len(block))
    got_i16 = np.round(got * 32768.0).astype(np.int64)
    want = _ms_spec_reference_decode(block, n_channels)
    for c in range(n_channels):
        assert got_i16[:, c].tolist() == want[c]


def test_ms_adpcm_delta_floor_and_clamp_vectors():
    """Targeted spec vectors: (1) a run of nibble 0 (adaptation 230 <
    256) decays idelta geometrically and must FLOOR at exactly 16 —
    the documented spec clamp — with the exact decay sequence checked;
    (2) nibble +7/-8 runs at max idelta saturate the sample at the
    int16 clamps; (3) a hostile NEGATIVE header idelta self-heals
    through the same floor."""
    import struct as st_

    import numpy as np

    from priority_data_pipeline_azure_sql_db_spark.operators.codecs import (
        _decode_ms_adpcm,
        _ms_step,
    )

    # (1) exact decay sequence from the spec recurrence
    delta, seq = 512, []
    for _ in range(40):
        delta = max(16, (230 * delta) >> 8)
        seq.append(delta)
    d, got = 512, []
    s1 = s2 = 0
    for _ in range(40):
        _, _, d = _ms_step(s1, s2, d, 256, 0, 0)
        got.append(d)
    assert got == seq and got[-1] == 16 and 16 in got[:-1]

    # (2) saturation: predictor 0 ({0,0}), max idelta, +7 then -8 runs
    hdr = bytes([2]) + st_.pack("<h", 32767) + st_.pack("<h", 0) \
        + st_.pack("<h", 0)
    block_hi = hdr + b"\x77" * 8
    out = _decode_ms_adpcm(block_hi, 1, len(block_hi))
    assert np.round(out[2:] * 32768.0).max() == 32767
    block_lo = hdr + b"\x88" * 8
    out = _decode_ms_adpcm(block_lo, 1, len(block_lo))
    assert np.round(out[2:] * 32768.0).min() == -32768

    # (3) negative header idelta: first update floors it to >= 16
    _, _, d = _ms_step(0, 0, -1000, 256, 0, 0)
    assert d == 16


@SETTINGS
@given(
    names=st.lists(
        st.text(alphabet=st.sampled_from(list("abc xyz")), min_size=0,
                max_size=12),
        min_size=2, max_size=10,
    ),
    nations=st.lists(st.integers(min_value=0, max_value=2), min_size=10,
                     max_size=10),
)
def test_multi_pass_fold_equals_unfolded_union_property(spark, names, nations):
    """Round-15 pass-union one-join fold: multi_pass_match_pairs /
    multi_pass_match_delta must be VALUE-IDENTICAL to the unfolded
    per-pass fuzzy_match union they replaced — across compound keys of
    different arity (padding), int block columns (string cast), NULL
    block keys (dropped, as plain `=` never matched them), and empty
    strings (must not collide with padding)."""
    from pyspark.sql import functions as F

    from priority_data_pipeline_azure_sql_db_spark.operators.dedup import (
        first_token_block,
        fuzzy_match_delta,
        fuzzy_match_pairs,
        multi_pass_match_delta,
        multi_pass_match_pairs,
    )

    rows = [(i, n if n.strip() else n, nations[i % len(nations)])
            for i, n in enumerate(names)]
    df = spark.createDataFrame(rows, "id bigint, name string, nat int")
    # two passes of different arity; first_token_block yields NULL for
    # all-space names — the null-drop class
    keys = {"ft": first_token_block("name"),
            "nat_pfx": [F.col("nat"),
                        F.expr("substring(name, 1, 3)")]}
    got = {
        tuple(r) for r in multi_pass_match_pairs(
            df, key_col="name", id_col="id", block_keys=keys, max_edit=2,
        ).collect()
    }
    want = set()
    for kname, key in keys.items():
        cols = key if isinstance(key, list) else [key]
        d2 = df
        blks = []
        for j, c in enumerate(cols):
            d2 = d2.withColumn(f"_b{j}", c)
            blks.append(f"_b{j}")
        want |= {
            tuple(r) for r in fuzzy_match_pairs(
                d2, key_col="name", id_col="id", block_cols=blks,
                max_edit=2,
            ).collect()
        }
    # dropDuplicates keeps one row per (id_a, id_b); all row fields are
    # pair-functions so set-of-tuples compares exactly
    assert got == want

    delta = df.filter(F.col("id") % 3 == 0)
    base = df.filter(F.col("id") % 3 != 0)
    got_d = {
        tuple(r) for r in multi_pass_match_delta(
            base, delta, key_col="name", id_col="id", block_keys=keys,
            max_edit=2,
        ).collect()
    }
    want_d = set()
    for kname, key in keys.items():
        cols = key if isinstance(key, list) else [key]
        b2, d2 = base, delta
        blks = []
        for j, c in enumerate(cols):
            b2 = b2.withColumn(f"_b{j}", c)
            d2 = d2.withColumn(f"_b{j}", c)
            blks.append(f"_b{j}")
        want_d |= {
            tuple(r) for r in fuzzy_match_delta(
                b2, d2, key_col="name", id_col="id", block_cols=blks,
                max_edit=2,
            ).collect()
        }
    assert got_d == want_d
