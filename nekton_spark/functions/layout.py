"""Z-order (Morton-curve) data layout for multi-dimensional scan
pruning (Morton 1966; the clustering technique Delta Lake's OPTIMIZE
ZORDER and ClickHouse/Databricks layouts popularized — public
knowledge).

Why it matters at 100 TB: parquet row-group min/max statistics prune
scans only along the ORDER the data was written in. A table laid out
by time prunes time predicates and nothing else; a query filtering on
``(user_id, value)`` reads everything. Interleaving the bits of the
two (bucketized) key columns into one Morton key and range-writing on
it gives every row group a TIGHT bounding box in BOTH dimensions, so
a 2-D box predicate skips most row groups — turning footer metadata
into a poor man's spatial index with zero read-path changes.

The reference engine (byte-stream pipeline, no storage layout —
``src/sinks.rs`` writes stdout/kafka only) has nothing here; this
extends the scale layer SURVEY §2.4-2.5 adds. Spark-first shape:
the Morton key is a pure codegen'd bit expression (no UDF), the
write is ``repartitionByRange(z).sortWithinPartitions(z)`` (one
range-exchange — the same shuffle ANY re-layout pays), and pruning
needs no engine support beyond ordinary parquet footer stats.

Exactness: bucketization is ``floor((x − min)·(2^bits − 1)/(max −
min))`` over doubles — plain IEEE arithmetic on exact inputs,
bit-identical in Spark and the DuckDB oracle; the interleave is
integer shifts/masks. NULL in either key column → NULL z-value
(ordered first by the range writer; flagged, never dropped).
"""

from __future__ import annotations

from functools import lru_cache, reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16


def _check_bits(bits: int) -> None:
    # bits > 31 would push column b's top bit into (or past) the long
    # sign bit, making half the keys negative and silently splitting
    # the Z-curve order — refuse, don't mislayout.
    if not 1 <= bits <= 31:
        raise ValueError(f"zorder bits must be in [1, 31], got {bits}")


def _bucket(x: Column, lo: float, hi: float, bits: int) -> Column:
    """Map x ∈ [lo, hi] onto integer buckets 0..2^bits−1 (constant
    column → bucket 0; NULL → NULL). Values OUTSIDE [lo, hi] — the
    caller-supplied-``ranges`` path with stale table statistics —
    clamp to the edge buckets (what Delta's ZORDER does): an
    out-of-range row lands in the nearest Z-curve segment instead of
    aliasing onto an unrelated key through the bit mask."""
    n = (1 << bits) - 1
    if hi == lo:
        return F.when(x.isNull(), F.lit(None).cast("long")).otherwise(F.lit(0))
    raw = F.floor(
        (x.cast("double") - F.lit(float(lo))) * F.lit(float(n))
        / F.lit(float(hi) - float(lo))
    ).cast("long")
    # NOTE: least/greatest SKIP nulls in Spark (they are not
    # null-propagating), so the NULL contract needs the explicit
    # branch. The clamp is a no-op when [lo, hi] is the data's own
    # min/max (raw is then always in range — the oracle replays the
    # unclamped formula and still hash-matches); it only bites on the
    # caller-supplied stale-statistics path.
    clamped = F.greatest(
        F.least(raw, F.lit(n).cast("long")), F.lit(0).cast("long")
    )
    return F.when(x.isNull(), F.lit(None).cast("long")).otherwise(clamped)


def _interleave(a: Column, b: Column, bits: int) -> Column:
    """Morton key: bit i of ``a`` lands at position 2i, bit i of
    ``b`` at 2i+1. Unrolled shifts/masks — whole-stage codegen, no
    loop at runtime."""
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda x, y: x.bitwiseOR(y), terms)


def _footer_ranges(
    df: DataFrame, cols: list[str]
) -> list[tuple[float, float]] | None:
    """Exact per-column (min, max) from parquet footer statistics —
    the stats pre-pass WITHOUT a scan job (r16, r15 verdict #6; §6 of
    the optimization playbook: the footers already hold the answer).

    Returns None — caller falls back to the one min/max aggregate —
    unless exactness is PROVEN:

    - the frame's optimized plan is a bare local-parquet relation,
      optionally under Projects in which every requested column is a
      pass-through ``AttributeReference`` (the engine's table_source
      adds a ts-conversion Project on events; user_id/value flow
      through untouched). Any Filter/Join/other node disqualifies —
      footer stats describe the FILES, not a filtered frame.
    - every requested column is a numeric primitive (INT32/INT64/
      FLOAT/DOUBLE — footer min/max for these is exact by the format
      spec; no string truncation, and a double chunk containing NaN
      gets no stats at all, so has_min_max ⇒ NaN-free exact) with no
      logical type beyond a plain integer width. DATE, TIMESTAMP and
      DECIMAL also ride INT32/INT64, but pyarrow returns their stats
      as date/datetime/Decimal objects.
    - every row-group chunk of every file carries min/max (an
      all-NULL chunk has none → bail; the aggregate path handles it).

    F.min/F.max skip NULLs exactly as footer stats do, so the values
    are bit-identical to the aggregate's — the oracle (which replays
    the min/max itself) still hash-matches. The -0.0/0.0 stats
    ambiguity is harmless here: both compare equal, so bucketization
    arithmetic is unchanged whichever the writer recorded."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            cls = node.getClass().getSimpleName()
            if cls == "Project":
                pl = node.projectList()
                for i in range(pl.size()):
                    ne = pl.apply(i)
                    if ne.name() in cols and (
                        ne.getClass().getSimpleName() != "AttributeReference"
                    ):
                        return None
                node = node.child()
            elif cls == "LogicalRelation":
                break
            else:
                return None
    except Exception:
        return None
    files = df.inputFiles()
    if not files or not all(f.startswith("file:") for f in files):
        return None
    from urllib.parse import unquote, urlparse

    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    mins: dict[str, float | int | None] = {c: None for c in cols}
    maxs: dict[str, float | int | None] = {c: None for c in cols}
    ok_types = {"INT32", "INT64", "FLOAT", "DOUBLE"}
    ok_logical = {"NONE", "INT"}
    try:
        for f in files:
            md = pq.ParquetFile(unquote(urlparse(f).path)).metadata
            idx = {
                md.schema.column(i).path: i for i in range(md.num_columns)
            }
            if any(c not in idx for c in cols):
                return None
            if any(
                md.schema.column(idx[c]).logical_type.type not in ok_logical
                for c in cols
            ):
                return None
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                if row_group.num_rows == 0:
                    continue
                for c in cols:
                    cc = row_group.column(idx[c])
                    if cc.physical_type not in ok_types:
                        return None
                    st = cc.statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo, hi = st.min, st.max
                    if mins[c] is None or lo < mins[c]:
                        mins[c] = lo
                    if maxs[c] is None or hi > maxs[c]:
                        maxs[c] = hi
    except Exception:
        return None
    if any(mins[c] is None for c in cols):
        # zero data rows: the aggregate path's NULL handling applies
        return None
    return [(float(mins[c]), float(maxs[c])) for c in cols]


def _bucketized_pair(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int,
    ranges: tuple[tuple[float, float], tuple[float, float]] | None,
) -> tuple[Column, Column]:
    """Shared stats pre-pass + bucketization for both curve keys: with
    ``ranges`` given, no scan at all; otherwise parquet footer min/max
    when provably exact (:func:`_footer_ranges` — zero jobs), else ONE
    combined min/max aggregate (a single stats scan, not one per
    column — at 100 TB the pre-pass is the cost that matters; with
    real table statistics pass ``ranges`` and skip it). All-NULL
    columns fall back to the constant-bucket branch."""
    if ranges is None:
        fr = _footer_ranges(df, [col_a, col_b])
        if fr is not None:
            ranges = (fr[0], fr[1])
    if ranges is not None:
        (alo, ahi), (blo, bhi) = ranges
    else:
        row = df.agg(
            F.min(F.col(col_a).cast("double")).alias("alo"),
            F.max(F.col(col_a).cast("double")).alias("ahi"),
            F.min(F.col(col_b).cast("double")).alias("blo"),
            F.max(F.col(col_b).cast("double")).alias("bhi"),
        ).first()
        alo, ahi = (
            (0.0, 0.0) if row.alo is None else (float(row.alo), float(row.ahi))
        )
        blo, bhi = (
            (0.0, 0.0) if row.blo is None else (float(row.blo), float(row.bhi))
        )
    return _bucket(F.col(col_a), alo, ahi, bits), _bucket(F.col(col_b), blo, bhi, bits)


def z_value(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = Z_BITS,
    ranges: tuple[tuple[float, float], tuple[float, float]] | None = None,
) -> DataFrame:
    """Append ``zv``: the Morton key of the two bucketized columns.
    Map-only; pass ``ranges`` to reuse known statistics instead of
    the one min/max aggregate."""
    _check_bits(bits)
    ba, bb = _bucketized_pair(df, col_a, col_b, bits, ranges)
    return df.withColumn("zv", _interleave(ba, bb, bits))


def zorder_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = Z_BITS,
    n_files: int = 8,
) -> None:
    """Re-layout ``df`` on the Morton key and write parquet: one
    range exchange (the sampling-based partitioner keeps output files
    even-sized under skew) + an in-partition sort, so every file and
    every row group covers a compact Z-curve segment — a tight
    min/max box in BOTH key columns."""
    (
        z_value(df, col_a, col_b, bits)
        .repartitionByRange(n_files, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_write_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int | None = None,
    n_files: int = 8,
) -> None:
    """N-column generalization of :func:`zorder_write` (r11): re-layout
    on the :func:`z_value_n` Morton key — one range exchange + an
    in-partition sort, every file/row group a compact k-D curve
    segment with tight min/max boxes in ALL key columns. For k = 2
    the key is bit-identical to :func:`zorder_write`'s (proven by
    tests/test_layout.py)."""
    (
        z_value_n(df, cols, bits)
        .repartitionByRange(n_files, "zv")
        .sortWithinPartitions("zv")
        .drop("zv")
        .write.mode("overwrite")
        .parquet(path)
    )


def rowgroups_matching(
    path: str, col_a: str, a_lo, a_hi, col_b: str, b_lo, b_hi
) -> tuple[int, int]:
    """Pruning measurement used by tests/bench: (row groups whose
    footer min/max box intersects the predicate box, total row
    groups) — exactly the skip decision a scan makes from metadata."""
    import pyarrow.parquet as pq

    match, total = 0, 0
    ds = pq.ParquetDataset(path)
    for frag in ds.fragments:
        md = frag.metadata
        names = frag.physical_schema.names
        ia, ib = names.index(col_a), names.index(col_b)
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            sa, sb = rg.column(ia).statistics, rg.column(ib).statistics
            total += 1
            # a row group with MISSING stats (no statistics object, or
            # statistics without min/max — e.g. an all-NULL chunk)
            # cannot be proven non-intersecting, so a real scan must
            # read it — count it as matching, never as pruned
            a_hit = (
                sa is None
                or not sa.has_min_max
                or not (sa.max < a_lo or sa.min > a_hi)
            )
            b_hit = (
                sb is None
                or not sb.has_min_max
                or not (sb.max < b_lo or sb.min > b_hi)
            )
            if a_hit and b_hit:
                match += 1
    return match, total


# ---------------------------------------------------------------- Hilbert

def _xy2d_py(bits: int, x: int, y: int) -> int:
    """Reference 2-D Hilbert index (the classic xy2d loop — public
    knowledge, e.g. Hamilton's tech report / the Wikipedia formulation
    — with the lower-bit masking made explicit so every flip is
    well-defined). This Python form IS the engine contract: the state
    table below is derived from it and the tests verify the derivation
    exhaustively (bijection + unit-step adjacency + table equality)."""
    d = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = (x >> i) & 1
        ry = (y >> i) & 1
        d += s * s * ((3 * rx) ^ ry)
        x &= s - 1
        y &= s - 1
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
    return d


def _derive_hilbert_table() -> tuple[list[int], list[int], int]:
    """Derive the (digit, next-state) tables of the 2-bit-in /
    2-bit-out Hilbert state machine from the xy2d loop's rotation
    group. A state is the bit transform accumulated so far,
    represented (swap, cx, cy): current-frame bits = swap-then-xor of
    the ORIGINAL level bits. The per-level mutation in the current
    frame is: identity if ry=1, else complement-both-if-rx then swap —
    composing it onto the state walks the (finite) transform group.
    Returns (digit_tab, next_tab, n_states), both indexed by
    state*4 + (bx*2 + by)."""

    def apply(t, bx, by):
        sw, cx, cy = t
        rx = (by if sw else bx) ^ cx
        ry = (bx if sw else by) ^ cy
        return rx, ry

    def compose(m, t):  # m ∘ t  (t first, then m)
        s1, cx1, cy1 = t
        s2, cx2, cy2 = m
        if s2:
            return (not s1, cy1 ^ cx2, cx1 ^ cy2)
        return (s1, cx1 ^ cx2, cy1 ^ cy2)

    ident = (False, False, False)
    states = [ident]
    index = {ident: 0}
    digit_tab: dict[tuple[int, int], int] = {}
    next_tab: dict[tuple[int, int], int] = {}
    frontier = [ident]
    while frontier:
        t = frontier.pop()
        si = index[t]
        for bx in (0, 1):
            for by in (0, 1):
                rx, ry = apply(t, bx, by)
                digit = (3 * rx) ^ ry
                if ry == 1:
                    nt = t
                else:
                    c = bool(rx)
                    nt = compose((True, c, c), t)
                if nt not in index:
                    index[nt] = len(states)
                    states.append(nt)
                    frontier.append(nt)
                digit_tab[(si, bx * 2 + by)] = digit
                next_tab[(si, bx * 2 + by)] = index[nt]
    n = len(states)
    dt = [digit_tab[(s, q)] for s in range(n) for q in (0, 1, 2, 3)]
    nx = [next_tab[(s, q)] for s in range(n) for q in (0, 1, 2, 3)]
    return dt, nx, n


HILBERT_DIGIT, HILBERT_NEXT, HILBERT_STATES = _derive_hilbert_table()


def _check_hilbert_bits(bits: int) -> None:
    """The packed accumulator carries d (2*bits bits) PLUS the 2-bit
    state, so bits=31 — legal for the plain Morton key — would push
    the last fold step's acc into the long sign bit and corrupt the
    key order; one bit stricter than _check_bits."""
    if not 1 <= bits <= 30:
        raise ValueError(f"hilbert bits must be in [1, 30], got {bits}")


_HILBERT_BLOCK = 4  # levels composed per fold step (table = 4 * 4^B entries)


@lru_cache(maxsize=None)
def _composed_hilbert_tables(s: int) -> tuple[tuple, tuple]:
    """The ``s``-level composition of the 4-state Hilbert machine:
    for start state ``st0`` and an MSB-first pack of ``s`` quadrant
    keys ``b``, entry ``st0 * 4^s + b`` holds the 2s-bit digit run /
    the end state of walking HILBERT_DIGIT/HILBERT_NEXT ``s`` times —
    equality with the per-level walk is BY CONSTRUCTION (this loop IS
    that walk) and pinned exhaustively in tests/test_layout.py."""
    size = 1 << (2 * s)
    dig = [0] * (4 * size)
    nxt = [0] * (4 * size)
    for st0 in range(4):
        for b in range(size):
            d, st = 0, st0
            for k in range(s - 1, -1, -1):
                q = (b >> (2 * k)) & 3
                d = (d << 2) | HILBERT_DIGIT[st * 4 + q]
                st = HILBERT_NEXT[st * 4 + q]
            dig[st0 * size + b] = d
            nxt[st0 * size + b] = st
    return tuple(dig), tuple(nxt)


def _long_array_expr(vals) -> Column:
    """A literal array<long> rendered as ONE SQL fragment — the
    per-literal ``F.array(*[F.lit(v)…])`` form costs 2 py4j calls per
    entry (the PCA/ADC lesson); integer literals parse to the
    identical tree."""
    return F.expr("array(" + ",".join(f"{v}L" for v in vals) + ")")


def _hilbert_fold(acc: Column, qs: Column, s: int) -> Column:
    """One ``aggregate`` fold over MSB-first ``2s``-bit quadrant packs
    with the ``s``-level composed tables; ``acc`` packs (d, state) as
    d*4+state exactly like the per-level form."""
    dig, nxt = _composed_hilbert_tables(s)
    digit_arr = _long_array_expr(dig)
    next_arr = _long_array_expr(nxt)
    size = 1 << (2 * s)
    return F.aggregate(
        qs,
        acc.cast("long"),
        lambda a, q: (
            F.shiftleft(
                F.shiftleft(F.shiftright(a, 2), 2 * s)
                + F.element_at(
                    digit_arr, (a.bitwiseAND(F.lit(3)) * size + q + 1).cast("int")
                ),
                2,
            )
            + F.element_at(
                next_arr, (a.bitwiseAND(F.lit(3)) * size + q + 1).cast("int")
            )
        ).cast("long"),
    )


@lru_cache(maxsize=None)
def _interleave_tables(s: int) -> tuple[tuple, tuple]:
    """Bit-spread tables for ``s``-bit slices: entry ``v`` of the x
    (resp. y) table is ``v``'s bits spread to the odd (resp. even)
    positions of a 2s-bit quadrant pack — quadrant of level ``i + k``
    = x_bit<<1 | y_bit at pack position 2k."""
    ix = tuple(
        sum(((v >> k) & 1) << (2 * k + 1) for k in range(s))
        for v in range(1 << s)
    )
    iy = tuple(
        sum(((v >> k) & 1) << (2 * k) for k in range(s))
        for v in range(1 << s)
    )
    return ix, iy


def _quad_packs(xb: Column, yb: Column, blocks: list[list[int]], s: int) -> Column:
    """MSB-first quadrant packs: one array element per block of ``s``
    consecutive levels (each block listed descending), quadrant of the
    block's top level in the pack's highest 2 bits. Each pack is two
    shifted ``s``-bit slices spread through the interleave tables —
    2 shifts + 2 masks + 2 element_at instead of 6 ops per LEVEL (the
    extraction, not the fold, dominated after the block composition).
    NULL input → NULL slice → NULL pack, matching the per-level form."""
    ix, iy = _interleave_tables(s)
    ix_arr = _long_array_expr(ix)
    iy_arr = _long_array_expr(iy)
    mask = F.lit((1 << s) - 1)
    return F.array(
        *[
            (
                F.element_at(
                    ix_arr,
                    (F.shiftright(xb, block[-1]).bitwiseAND(mask) + 1).cast("int"),
                )
                + F.element_at(
                    iy_arr,
                    (F.shiftright(yb, block[-1]).bitwiseAND(mask) + 1).cast("int"),
                )
            ).cast("long")
            for block in blocks
        ]
    )


def hilbert_expr(xb: Column, yb: Column, bits: int) -> Column:
    """Hilbert index of two bucketized long columns as ONE pure
    Catalyst expression: quadrant keys are pre-extracted with LITERAL
    shift amounts (shiftright takes only literal bit counts), then an
    ``aggregate`` fold walks the state machine — the accumulator packs
    (d, state) as d*4+state, so the fold is plain long arithmetic and
    the state/digit lookups are ``element_at`` into constant literal
    arrays. NULL in either input poisons the fold to a NULL key (same
    contract as ``zv``). No UDF, no shuffle.

    The fold walks _HILBERT_BLOCK levels per step using the composed
    tables of :func:`_composed_hilbert_tables` (r15 opt: the HOF is
    interpreted, never codegen'd, and the per-level walk's 16 steps
    measured 1.53 s vs the Morton key's 0.1 s over 100k rows — the
    composition cuts the interpreted steps 4×, identical values by
    construction). ``bits % _HILBERT_BLOCK`` leading levels run as a
    first fold over the 1-level tables, seeding the block fold's
    accumulator."""
    _check_hilbert_bits(bits)
    s = min(_HILBERT_BLOCK, bits)
    r = bits % s
    acc = F.lit(0).cast("long")
    if r:
        # leading partial block: per-level walk (cannot zero-pad — a
        # q=0 step still moves the state machine)
        acc = _hilbert_fold(
            acc,
            _quad_packs(
                xb, yb, [[i] for i in range(bits - 1, bits - r - 1, -1)], 1
            ),
            1,
        )
    blocks = [
        list(range(i + s - 1, i - 1, -1))
        for i in range(bits - r - s, -1, -s)
    ]
    if blocks:
        acc = _hilbert_fold(acc, _quad_packs(xb, yb, blocks, s), s)
    return F.shiftright(acc, 2)


def hilbert_value(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bits: int = Z_BITS,
    ranges: tuple[tuple[float, float], tuple[float, float]] | None = None,
) -> DataFrame:
    """Append ``hv``: the Hilbert index of the two bucketized columns —
    the locality upgrade over :func:`z_value`: the Hilbert curve has no
    Morton "seams" (consecutive keys are always grid-adjacent), so
    range-written row groups get tighter bounding boxes on average and
    box predicates prune more. Same bucketization, same NULL contract,
    same map-only shape as ``zv``."""
    # refuse BEFORE the stats pre-pass: bits=31 must not cost a full
    # min/max scan of a 100 TB table just to raise in hilbert_expr
    _check_hilbert_bits(bits)
    ba, bb = _bucketized_pair(df, col_a, col_b, bits, ranges)
    return df.withColumn("hv", hilbert_expr(ba, bb, bits))


def hilbert_write(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = Z_BITS,
    n_files: int = 8,
) -> None:
    """Re-layout on the Hilbert key and write parquet — one range
    exchange + in-partition sort, exactly :func:`zorder_write` with
    the better-locality key. The keyed frame is materialized first:
    ``repartitionByRange`` evaluates its input TWICE (the range
    partitioner samples, then the write runs), and unlike the
    codegen'd Morton key the interpreted 16-level fold is worth
    computing once (measured 3.96 → 2.35 s at 1M rows)."""
    from ..materialize import materialize

    (
        hilbert_value(df, col_a, col_b, bits)
        .transform(materialize)
        .repartitionByRange(n_files, "hv")
        .sortWithinPartitions("hv")
        .drop("hv")
        .write.mode("overwrite")
        .parquet(path)
    )


# ------------------------------------------------------- N-column Morton

def z_value_n(
    df: DataFrame,
    cols: list[str],
    bits: int | None = None,
    ranges: list[tuple[float, float]] | None = None,
    out_col: str = "zv",
) -> DataFrame:
    """N-column Morton key: bit ``i`` of (bucketized) column ``j``
    lands at position ``i*k + j`` — the k-dimensional generalization
    of :func:`z_value` for layouts clustered on three or four filter
    columns at once (time × tenant × metric is the common 100 TB
    shape). ``bits`` defaults to the largest per-column width that
    keeps the key inside a non-negative long (``62 // k``, capped at
    ``Z_BITS``); explicit ``bits`` with ``bits*k > 62`` refuses — a
    silently sign-flipped key would scramble the curve order. Same
    single combined min/max stats pre-pass (pass ``ranges``, one
    (lo, hi) per column, to skip it), same NULL→NULL contract,
    map-only like the 2-D key."""
    k = len(cols)
    if k < 2:
        raise ValueError(f"z_value_n needs >= 2 columns, got {k}")
    if bits is None:
        bits = min(Z_BITS, 62 // k)
    _check_bits(bits)
    if bits * k > 62:
        raise ValueError(
            f"bits*k = {bits}*{k} = {bits * k} > 62 would push the Morton "
            "key into the long sign bit — lower bits or drop a column"
        )
    if ranges is None:
        # footer fast path (r16) — same exactness proof as the 2-D key
        ranges = _footer_ranges(df, list(cols))
    if ranges is not None:
        if len(ranges) != k:
            raise ValueError(f"ranges must have one (lo, hi) per column")
        bounds = list(ranges)
    else:
        aggs = []
        for j, c in enumerate(cols):
            aggs.append(F.min(F.col(c).cast("double")).alias(f"lo{j}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"hi{j}"))
        row = df.agg(*aggs).first()
        bounds = []
        for j in range(k):
            lo, hi = row[f"lo{j}"], row[f"hi{j}"]
            bounds.append((0.0, 0.0) if lo is None else (float(lo), float(hi)))
    bucketized = [
        _bucket(F.col(c), lo, hi, bits) for c, (lo, hi) in zip(cols, bounds)
    ]
    terms = []
    for i in range(bits):
        for j, b in enumerate(bucketized):
            terms.append(
                F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return df.withColumn(out_col, reduce(lambda x, y: x.bitwiseOR(y), terms))
