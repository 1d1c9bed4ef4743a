"""Parity of the C motion-search kernel (gs_h265_search_mv) against
the numpy reference implementation in operators/h265._search_mv.

The numpy path is the correctness reference; the C kernel must return
the identical (sad, (mvx, mvy)) — including the lexicographic
tie-break and the quarter-pel DCT-IF refinement arithmetic — for the
encoder's bitstreams to be byte-stable regardless of which path runs.
"""

import numpy as np
import pytest

from gorillaspark.codec.native import h265_search_mv_native
from gorillaspark.operators import h265 as h5


def _py_search_mv(refY, src_blk, x0, y0, w, h, starts, rng):
    """The numpy reference path, bypassing the native fast path."""
    from numpy.lib.stride_tricks import as_strided  # noqa: F401

    H, W = refY.shape
    src16 = src_blk.astype(np.int16)
    side = 2 * rng + 1
    best = None
    done = set()
    for sx, sy in list(starts) + [(0, 0)]:
        sx, sy = (sx >> 2) << 2, (sy >> 2) << 2
        if (sx, sy) in done:
            continue
        done.add((sx, sy))
        cx, cy = sx >> 2, sy >> 2
        ys = np.arange(y0 + cy - rng, y0 + cy + rng + h).clip(0, H - 1)
        xs = np.arange(x0 + cx - rng, x0 + cx + rng + w).clip(0, W - 1)
        win = refY[ys[:, None], xs].astype(np.int16)
        sads = np.abs(h5._win2(win, h, w) - src16).sum(
            axis=(2, 3), dtype=np.int64)
        flat = sads.T.ravel()
        i = int(flat.argmin())
        mv = (sx + 4 * (i // side - rng), sy + 4 * (i % side - rng))
        cand = (int(flat[i]), mv)
        if best is None or cand < best:
            best = cand
    seen = set()
    for _ in range(2):
        s0, (mx, my) = best
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if not dx and not dy:
                    continue
                mv = (mx + dx, my + dy)
                if mv in seen:
                    continue
                seen.add(mv)
                pred = h5._mc_luma(refY, x0, y0, w, h, mv)
                s = h5._sad(pred, src_blk)
                if (s, mv) < best:
                    best = (s, mv)
        if best[1] == (mx, my):
            break
    return best


@pytest.mark.skipif(h265_search_mv_native(
    np.zeros((8, 8), dtype=np.int64), np.zeros((4, 4), dtype=np.int64),
    0, 0, 4, 4, [], 1) is None, reason="no C kernel on this host")
def test_native_search_matches_numpy_reference():
    rng = np.random.default_rng(42)
    for trial in range(400):
        H = W = 16
        ref = rng.integers(0, 256, (H, W)).astype(np.int64)
        w = int(rng.choice([4, 8, 12, 16]))
        h = int(rng.choice([4, 8, 12, 16]))
        x0 = int(rng.integers(0, W - w + 1))
        y0 = int(rng.integers(0, H - h + 1))
        src = rng.integers(0, 256, (h, w)).astype(np.int64)
        n_starts = int(rng.integers(0, 4))
        starts = [(int(rng.integers(-16, 17)), int(rng.integers(-16, 17)))
                  for _ in range(n_starts)]
        sr = int(rng.choice([1, 2, 3]))
        a = _py_search_mv(ref, src, x0, y0, w, h, starts, sr)
        b = h265_search_mv_native(ref, src, x0, y0, w, h, starts, sr)
        assert a == b, (trial, a, b, starts, (x0, y0, w, h, sr))


@pytest.mark.skipif(h265_search_mv_native(
    np.zeros((8, 8), dtype=np.int64), np.zeros((4, 4), dtype=np.int64),
    0, 0, 4, 4, [], 1) is None, reason="no C kernel on this host")
def test_native_search_tie_break_on_flat_field():
    # a constant plane makes every candidate SAD equal: the winner
    # must be the lexicographically smallest (mvx, mvy)
    ref = np.full((16, 16), 7, dtype=np.int64)
    src = np.full((8, 8), 7, dtype=np.int64)
    s, mv = h265_search_mv_native(ref, src, 4, 4, 8, 8, [(8, -4)], 3)
    a = _py_search_mv(ref, src, 4, 4, 8, 8, [(8, -4)], 3)
    assert (s, mv) == a
    assert s == 0


def test_oversize_block_falls_back_to_numpy(monkeypatch):
    # gs__mc_sad interpolates into a stack buffer sized for blocks up
    # to 16x16; wider or taller blocks must never reach the kernel
    rng = np.random.default_rng(3)
    ref = rng.integers(0, 256, (48, 48)).astype(np.int64)
    src = rng.integers(0, 256, (32, 32)).astype(np.int64)
    args = (ref, src, 8, 8, 32, 32, [(5, -6)], 2)
    assert h265_search_mv_native(*args) is None
    assert h265_search_mv_native(ref, src[:16], 8, 8, 32, 16,
                                 [], 1) is None
    got = h5._search_mv(*args)
    monkeypatch.setattr(h5, "h265_search_mv_native", lambda *a: None)
    assert got == h5._search_mv(*args) == _py_search_mv(*args)
