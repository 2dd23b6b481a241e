"""Scalar parity oracles for the vectorized production kernels.

Each function here is the plain, per-element form of a kernel whose
production version is batched or vectorized; tests assert the two agree
bit-for-bit.  None of them is reachable from the engine.

The JPEG pair plugs into the codec through its seams: ``jpeg._encode_scan``
looks up ``jpeg._entropy_vector`` and ``jpeg._decode_impl`` looks up
``jpeg._baseline_zz`` at call time, so ``encode_scalar`` / ``decode_scalar``
run the full codec with the oracle swapped in.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from geo_raster_spark import jpeg
from geo_raster_spark.operators.dedup import _sm_mix_np


# --- JPEG --------------------------------------------------------------------

def entropy_scalar(zz: np.ndarray, dc: np.ndarray) -> bytes:
    """Per-symbol baseline entropy coder (oracle of ``jpeg._entropy_vector``).
    ``dc`` = per-block DC DIFFS, prediction applied by the caller."""
    sizes_dc = jpeg._category(dc)
    sizes_ac = jpeg._category(zz[:, 1:])
    bw_ = jpeg._BitWriter()
    for i in range(zz.shape[0]):
        s = int(sizes_dc[i])
        c, ln = jpeg._DC_ENC[s]
        bw_.write(c, ln)
        if s:
            v = int(dc[i])
            bw_.write(v if v > 0 else v + (1 << s) - 1, s)
        row = zz[i, 1:]
        nz = np.nonzero(row)[0]
        pos = 0
        for j in nz:
            run = int(j) - pos
            while run >= 16:
                c, ln = jpeg._AC_ENC[0xF0]                       # ZRL
                bw_.write(c, ln)
                run -= 16
            s = int(sizes_ac[i, j])
            c, ln = jpeg._AC_ENC[(run << 4) | s]
            bw_.write(c, ln)
            v = int(row[j])
            bw_.write(v if v > 0 else v + (1 << s) - 1, s)
            pos = int(j) + 1
        if pos < 63:
            c, ln = jpeg._AC_ENC[0x00]                           # EOB
            bw_.write(c, ln)
    bw_.flush()
    return bytes(bw_.buf)


def baseline_zz_scalar(segments, specs, comp_of, bpm, n_mcu, restart_ri, zz):
    """Per-bit interleaved baseline scan decoder (oracle of
    ``jpeg._baseline_zz``, same signature)."""
    dcts = [jpeg._build_decode(*dc) for dc, _ac in specs]
    acts = [jpeg._build_decode(*ac) for _dc, ac in specs]
    mcu_done = 0
    for seg_bytes in segments:
        if mcu_done >= n_mcu:
            break
        m = min(restart_ri, n_mcu - mcu_done) if restart_ri else n_mcu
        preds = [0] * len(specs)
        br = jpeg._BitReader(seg_bytes)
        for i in range(mcu_done * bpm, (mcu_done + m) * bpm):
            c = comp_of[i % bpm]
            s = jpeg._huff_read(br, dcts[c])
            diff = jpeg._extend(br.read(s), s) if s else 0
            preds[c] += diff
            zz[i, 0] = preds[c]
            k = 1
            while k < 64:
                rs = jpeg._huff_read(br, acts[c])
                r, s = rs >> 4, rs & 0x0F
                if rs == 0x00:                                   # EOB
                    break
                if rs == 0xF0:                                   # ZRL
                    k += 16
                    continue
                k += r
                if k > 63:
                    break
                zz[i, k] = jpeg._extend(br.read(s), s)
                k += 1
        mcu_done += m


def encode_scalar(arr: np.ndarray, *args, **kwargs) -> bytes:
    """``jpeg.encode`` with the scalar entropy coder."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(jpeg, "_entropy_vector", entropy_scalar)
        return jpeg.encode(arr, *args, **kwargs)


def decode_scalar(data: bytes) -> np.ndarray:
    """``jpeg.decode`` with the per-bit baseline scan decoder."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(jpeg, "_baseline_zz", baseline_zz_scalar)
        return jpeg.decode(data)


# --- dedup -------------------------------------------------------------------

def km_sig_doc(text, k: int = 5, n_hashes: int = 32) -> np.ndarray:
    """Per-document KM MinHash signature (oracle of
    ``dedup.km_minhash_batch``)."""
    prime = np.uint64(0x100000001B3)
    iarr = np.arange(n_hashes, dtype=np.uint64)
    b = np.frombuffer(str(text).lower().encode("utf-8"), np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)))
    win = np.lib.stride_tricks.sliding_window_view(b, k)
    h1 = np.full(len(win), 0xCBF29CE484222325, np.uint64)
    for j in range(k):
        h1 = (h1 ^ win[:, j].astype(np.uint64)) * prime
    h2 = _sm_mix_np(h1) | np.uint64(1)
    return (h1[:, None] + iarr[None, :] * h2[:, None]).min(axis=0)


def fnv1a64(data: bytes) -> int:
    """64-bit FNV-1a of one byte string (oracle of ``dedup._fnv1a64_batch``)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


# --- streaming ---------------------------------------------------------------

def sessionize_oracle(events_pdf: pd.DataFrame,
                      gap_sec: float = 1800.0) -> pd.DataFrame:
    """Batch sessionization (oracle of ``stateful.streaming_sessionize``):
    CLOSED sessions only (a session is closed when a later event of the
    same user follows it by more than the gap)."""
    gap_us = int(gap_sec * 1_000_000)
    rows = []
    for uid, g in events_pdf.groupby("user_id"):
        ts = np.sort(g["ts"].to_numpy("datetime64[us]").astype(np.int64))
        s0 = s1 = int(ts[0])
        n = 1
        for t in ts[1:]:
            t = int(t)
            if t - s1 > gap_us:
                rows.append((int(uid), s0, s1, n))
                s0, s1, n = t, t, 1
            else:
                s1, n = t, n + 1
        # trailing session stays open — not emitted
    out = pd.DataFrame(rows, columns=["user_id", "s0", "s1", "n_events"])
    return pd.DataFrame({
        "user_id": out["user_id"],
        "session_start": pd.to_datetime(out["s0"], unit="us"),
        "session_end": pd.to_datetime(out["s1"], unit="us"),
        "n_events": out["n_events"].astype(np.int32)})
