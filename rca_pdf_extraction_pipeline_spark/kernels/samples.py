"""Vectorized core-sample decoder (operators P1 + P2 of SURVEY.md §2.11).

Reference semantics: ``/root/reference/src/core_analysis.py``
  * data-block segmentation  :547-578  (P1)
  * positional decode with merged-cell expansion :580-712 (P2)
  * depth / tolerant float parse :714-731 (X4/X5)

The reference walks each sample with a branching cursor.  Here the whole
batch of blocks is decoded at once with numpy:

  1. explode block text into stripped, non-empty lines (pandas str ops);
  2. boundary mask via three shifted vectorized regex matches (F5/W1);
  3. ``sample_id = cumsum(boundary)`` (W2) with cross-block leakage masked;
  4. pad each sample's lines into a 2-D object matrix;
  5. one gather per output column — the gather *index* per sample is selected
     by its branch class (``+`` / ``<`` / numeric), reproducing the cursor:

        branch   perm_air perm_klink por_amb por_ncs grain  sat0
        '+'      lit '+'  lit '+'    v[1]    (none)  v[2]   v[3]
        '<x'     lit v0   lit v0     v[1]    v[2]    v[3]   v[4]
        numeric  v[0]     v[1]       v[2]    v[3]    v[4]   v[5]

     Saturations: first sat value '**' replicates to all three columns.

Guards (reference :589-601): samples with >20 or <5 lines, or an unparseable
depth, are dropped.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import MAX_SAMPLE_LINES, MIN_SAMPLE_LINES

#: output of the decoder: canonical string cells + typed shadow columns
SAMPLE_COLUMNS = [
    "core_number", "sample_number", "depth_feet",
    "permeability_air_md", "permeability_klink_md",
    "porosity_ambient_pct", "porosity_ncs_pct", "grain_density_gcc",
    "saturation_water_pct", "saturation_oil_pct", "saturation_total_pct",
]


def _float_to_cell(values: np.ndarray) -> np.ndarray:
    """Format float64 -> shortest-repr strings ('' for NaN), matching
    Python ``str(float)`` as the reference CSV writer emits them."""
    mask = np.isnan(values)
    safe = np.where(mask, 0.0, values)
    # numpy >=1.14 dragon4 shortest repr == python repr for float64
    out = safe.astype("U32").astype(object)
    out[mask] = ""
    return out


def _parse_float_vec(cells: np.ndarray) -> np.ndarray:
    """Tolerant float parse (reference :723-731): strip commas; '',
    '**', '+', '-', garbage -> NaN."""
    s = pd.Series(cells, dtype=object).astype(str).str.replace(",", "", regex=False)
    return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)


def _is_core(s: str) -> bool:
    """``^\\d{1,2}$`` without the regex engine (str.isdecimal matches
    exactly the Nd category, same as re ``\\d``)."""
    return len(s) <= 2 and s.isdecimal()


def _is_sample(s: str) -> bool:
    """``^\\d+-\\d+`` prefix match."""
    i = s.find("-")
    return i > 0 and s[:i].isdecimal() and s[i + 1:i + 2].isdecimal()


def _is_depth(s: str) -> bool:
    """``^\\d{1,2},?\\d{3}\\.\\d{2}$`` full match."""
    if len(s) < 7 or s[-3] != "." or not s[-2:].isdecimal():
        return False
    head = s[:-3]
    i = head.find(",")
    if i == -1:
        return head.isdecimal() and 4 <= len(head) <= 5
    return i in (1, 2) and head[:i].isdecimal() and len(head) - i - 1 == 3 \
        and head[i + 1:].isdecimal()


def _mask(arr: np.ndarray, pred) -> np.ndarray:
    return np.fromiter((pred(s) for s in arr), dtype=bool, count=len(arr))


def segment_lines(blocks: pd.DataFrame) -> pd.DataFrame:
    """P1: explode data blocks into lines tagged with sample ids.

    Parameters
    ----------
    blocks : DataFrame with columns (block_id:int64, text:str).
        ``block_id`` must be unique per (doc, page) data block and ordered
        the way output rows should be ordered.

    Returns
    -------
    DataFrame (block_id, sample_id, pos, line) — only lines belonging to a
    well-formed sample window; ``sample_id`` is globally unique and ordered.
    """
    if len(blocks) == 0:
        return pd.DataFrame(columns=["block_id", "sample_id", "pos", "line"])

    lines = blocks["text"].str.split("\n")
    exploded = blocks[["block_id"]].copy()
    exploded["line"] = lines
    exploded = exploded.explode("line", ignore_index=True)
    exploded["line"] = exploded["line"].astype(str).str.strip()
    exploded = exploded[exploded["line"] != ""].reset_index(drop=True)
    if len(exploded) == 0:
        return pd.DataFrame(columns=["block_id", "sample_id", "pos", "line"])

    blk = exploded["block_id"].to_numpy()
    txt = exploded["line"]

    # str-method twins of RE_CORE_NUMBER / RE_SAMPLE_NUMBER / RE_DEPTH —
    # one cheap pass each instead of three regex-engine passes (the
    # boundary scan dominated the decode profile)
    arr = txt.to_numpy()
    m_core = _mask(arr, _is_core)
    m_sample = _mask(arr, _is_sample)
    m_depth = _mask(arr, _is_depth)

    n = len(txt)
    same1 = np.zeros(n, dtype=bool)
    same2 = np.zeros(n, dtype=bool)
    same1[: n - 1] = blk[1:] == blk[:-1]
    same2[: n - 2] = blk[2:] == blk[:-2]
    nxt_sample = np.zeros(n, dtype=bool)
    nxt2_depth = np.zeros(n, dtype=bool)
    nxt_sample[: n - 1] = m_sample[1:]
    nxt2_depth[: n - 2] = m_depth[2:]

    # reference :554-563 — boundary needs lines i, i+1, i+2 in the same block
    is_start = m_core & nxt_sample & nxt2_depth & same1 & same2

    sid = np.cumsum(is_start)
    valid = sid > 0
    if not valid.any():
        return pd.DataFrame(columns=["block_id", "sample_id", "pos", "line"])

    # a sample never crosses a block boundary: mask lines whose block differs
    # from the block of their sample's start line (reference parses per block)
    start_idx = np.flatnonzero(is_start)
    start_blk = blk[start_idx]  # block of sample k (1-based sid)
    line_start_blk = np.full(n, -1, dtype=start_blk.dtype)
    line_start_blk[valid] = start_blk[sid[valid] - 1]
    valid &= blk == line_start_blk

    out = pd.DataFrame(
        {
            "block_id": blk[valid],
            "sample_id": sid[valid],
            "line": txt.to_numpy()[valid],
        }
    )
    # position of each line inside its sample
    first_idx = np.full(int(sid.max()) + 1, -1, dtype=np.int64)
    first_idx[sid[start_idx]] = start_idx
    all_idx = np.flatnonzero(valid)
    out["pos"] = all_idx - first_idx[sid[valid]]
    return out[["block_id", "sample_id", "pos", "line"]]


def decode_samples(lines: pd.DataFrame) -> pd.DataFrame:
    """P2: decode segmented sample lines into canonical rows.

    Parameters
    ----------
    lines : output of :func:`segment_lines`.

    Returns
    -------
    DataFrame with ``block_id``, ``sample_id`` and the 11
    :data:`SAMPLE_COLUMNS` as strings exactly as the reference CSV renders
    them ('' for None, merged indicators preserved).
    """
    empty_cols = ["block_id", "sample_id", *SAMPLE_COLUMNS]
    if len(lines) == 0:
        return pd.DataFrame(columns=empty_cols)

    sid = lines["sample_id"].to_numpy()
    pos = lines["pos"].to_numpy()
    uniq, inv = np.unique(sid, return_inverse=True)
    n_samples = len(uniq)
    counts = np.bincount(inv)

    # guards (reference :589-594): drop oversized / undersized samples
    keep_sample = (counts <= MAX_SAMPLE_LINES) & (counts >= MIN_SAMPLE_LINES)

    # matrix width is capped: lines beyond the guard limit can only belong to
    # samples that are dropped anyway, so exclude them (bounds memory when a
    # malformed block yields one enormous trailing "sample")
    in_width = pos <= MAX_SAMPLE_LINES
    width = int(pos[in_width].max()) + 1 if in_width.any() else MIN_SAMPLE_LINES
    mat = np.full((n_samples, max(width, MIN_SAMPLE_LINES)), "", dtype=object)
    mat[inv[in_width], pos[in_width]] = lines["line"].to_numpy()[in_width]
    block_of = np.zeros(n_samples, dtype=np.int64)
    block_of[inv] = lines["block_id"].to_numpy()

    core = mat[:, 0]
    sample_num = mat[:, 1]
    depth = _parse_float_vec(mat[:, 2])  # reference _parse_depth :714-721
    keep_sample &= ~np.isnan(depth)

    # values matrix = everything after core/sample/depth, plus one '' pad
    # column at the end so out-of-range gathers read '' (-> NaN on parse),
    # mirroring the reference's `if idx < len(values)` guards.
    vals = mat[:, 3:]
    pad = np.full((n_samples, 3), "", dtype=object)
    vals = np.concatenate([vals, pad], axis=1)
    nv = vals.shape[1] - 1  # index of a guaranteed-'' column

    v0 = vals[:, 0].astype(str)
    is_plus = v0 == "+"
    is_lt = np.char.startswith(v0.astype(str), "<") & ~is_plus
    branch = np.where(is_plus, 0, np.where(is_lt, 1, 2))

    def gather(idx_by_branch: tuple[int, int, int]) -> np.ndarray:
        idx = np.choose(branch, idx_by_branch)
        idx = np.clip(idx, 0, nv)
        return vals[np.arange(n_samples), idx]

    NONE = nv  # points at the '' pad column
    por_amb_raw = gather((1, 1, 2))
    por_ncs_raw = gather((NONE, 2, 3))
    grain_raw = gather((2, 3, 4))
    perm_air_num = gather((NONE, NONE, 0))
    perm_klink_num = gather((NONE, NONE, 1))

    por_amb = _parse_float_vec(por_amb_raw)
    por_ncs = _parse_float_vec(por_ncs_raw)
    grain = _parse_float_vec(grain_raw)
    pa_f = _parse_float_vec(perm_air_num)
    pk_f = _parse_float_vec(perm_klink_num)

    # permeability string cells: literal for '+' and '<x', formatted float else
    pa_cell = np.where(is_plus, "+", np.where(is_lt, v0, _float_to_cell(pa_f)))
    pk_cell = np.where(is_plus, "+", np.where(is_lt, v0, _float_to_cell(pk_f)))

    # saturations (reference :676-694)
    sat0_idx = np.choose(branch, (3, 4, 5))
    s0 = vals[np.arange(n_samples), np.clip(sat0_idx, 0, nv)].astype(str)
    is_star = s0 == "**"
    s1 = vals[np.arange(n_samples), np.clip(sat0_idx + 1, 0, nv)]
    s2 = vals[np.arange(n_samples), np.clip(sat0_idx + 2, 0, nv)]
    sw_f = _parse_float_vec(s0)
    so_f = _parse_float_vec(s1)
    st_f = _parse_float_vec(s2)
    sw_cell = np.where(is_star, "**", _float_to_cell(sw_f))
    so_cell = np.where(is_star, "**", _float_to_cell(so_f))
    st_cell = np.where(is_star, "**", _float_to_cell(st_f))

    out = pd.DataFrame(
        {
            "block_id": block_of,
            "sample_id": uniq,
            "core_number": core,
            "sample_number": sample_num,
            "depth_feet": _float_to_cell(depth),
            "permeability_air_md": pa_cell,
            "permeability_klink_md": pk_cell,
            "porosity_ambient_pct": _float_to_cell(por_amb),
            "porosity_ncs_pct": _float_to_cell(por_ncs),
            "grain_density_gcc": _float_to_cell(grain),
            "saturation_water_pct": sw_cell,
            "saturation_oil_pct": so_cell,
            "saturation_total_pct": st_cell,
        }
    )
    # the typed columns extraction.SAMPLES_SCHEMA carries
    out["depth_feet_f"] = depth
    out["porosity_ambient_pct_f"] = por_amb

    return out[keep_sample].reset_index(drop=True)


def parse_blocks(blocks: pd.DataFrame) -> pd.DataFrame:
    """P1+P2 composed: blocks(block_id, text) -> decoded sample rows."""
    return decode_samples(segment_lines(blocks))
