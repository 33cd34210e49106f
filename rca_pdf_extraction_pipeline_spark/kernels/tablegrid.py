"""S9 table-grid inference kernel (reference ``src/table_extractor.py:59-120``).

The reference delegates grid detection to ``pdfplumber.Page.find_tables()``
(ruling-line strategy) and falls back to ``extract_tables()`` at confidence
0.7 when the primary pass yields nothing (``table_extractor.py:95-118``).
This kernel re-derives both passes from the span model:

  primary (lines strategy)
    1. rulings: ``kind='line'`` spans split into horizontal (|dy|<2) and
       vertical (|dx|<2); ``kind='rect'`` spans contribute their 4 edges.
    2. snap: per (page, orientation), positions within ``SNAP_TOL`` merge
       into one boundary at the cluster mean (pdfplumber ``snap_tolerance``).
    3. grid: >=2 horizontal and >=2 vertical boundaries -> (n_h-1)x(n_v-1)
       cells; raw row count must be >=2 (header + data,
       ``table_extractor.py:73``).
    4. containment: a text span lands in the cell holding its bbox center
       (searchsorted against the boundary arrays; centers on a boundary
       belong to the following cell).
    5. cell text: contained spans joined in reading order (y0, x0, offset)
       and whitespace-collapsed (``_clean_row``, ``table_extractor.py:122-134``).
    6. row 0 = headers; data rows that are entirely empty are dropped
       (``table_extractor.py:81``); a table must keep >=1 data row.

  fallback (text-alignment strategy, confidence 0.7)
    pages with no primary table: cluster text spans by y0 into rows and by
    x0 into columns (same snap tolerance); >=2 row clusters and >=2 column
    clusters required, then the same header/empty-row rules.

Everything is numpy lexsort / cumsum / searchsorted over flat arrays — no
per-row or per-page Python loops (CLAUDE.md hot-path invariant).  The
cross-page searchsorted uses a composite ``grid_id * KEY_STRIDE + position``
key so ONE call locates every span against its own page's boundary array.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: pdfplumber's default snap_tolerance
SNAP_TOL = 3.0
#: composite-key stride for cross-page searchsorted; must exceed any page
#: coordinate (PDF user-space pages are < 15k points even at A0)
KEY_STRIDE = 2 ** 20

CELL_COLS = ["page", "table_index", "row_idx", "col_idx", "cell",
             "is_header", "confidence"]


def _cluster_1d(group_keys: np.ndarray, pos: np.ndarray,
                tol: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single-linkage 1-D clustering within groups.

    Returns (cluster_id, order, rep) where ``cluster_id[i]`` is the global
    cluster of element ``order[i]`` (elements sorted by (group, pos)) and
    ``rep`` maps cluster_id -> mean position.
    """
    order = np.lexsort((pos, group_keys))
    g, p = group_keys[order], pos[order]
    new = np.empty(len(p), dtype=bool)
    if len(p):
        new[0] = True
        new[1:] = (g[1:] != g[:-1]) | ((p[1:] - p[:-1]) > tol)
    cid = np.cumsum(new) - 1
    sums = np.bincount(cid, weights=p)
    cnts = np.bincount(cid)
    rep = sums / np.maximum(cnts, 1)
    return cid, order, rep


def _page_codes(df: pd.DataFrame) -> np.ndarray:
    """Dense int code per (doc_pos, page) pair, order-stable by (doc_pos,
    page)."""
    return df.groupby(["doc_pos", "page"], sort=True).ngroup().to_numpy()


def _dense_cells(n_rows: np.ndarray, n_cols: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized dense (grid, row, col) enumeration for ragged grids."""
    per = n_rows * n_cols
    total = int(per.sum())
    gid = np.repeat(np.arange(len(per)), per)
    starts = np.concatenate([[0], np.cumsum(per)[:-1]])
    within = np.arange(total) - np.repeat(starts, per)
    ncol_rep = np.repeat(n_cols, per)
    return gid, within // ncol_rep, within % ncol_rep


def _assemble_tables(cells: pd.DataFrame, confidence: float) -> pd.DataFrame:
    """Shared header/empty-row assembly over a dense cell frame with columns
    (gid, doc_pos, page, row, col, cell)."""
    if len(cells) == 0:
        return pd.DataFrame(columns=["doc_pos", *CELL_COLS])
    cells = cells.sort_values(["gid", "row", "col"], kind="stable")
    nonempty = cells["cell"].to_numpy() != ""
    rk = cells["gid"].to_numpy() * KEY_STRIDE + cells["row"].to_numpy()
    row_codes, row_uniq = pd.factorize(rk, sort=True)
    row_has_text = np.bincount(row_codes, weights=nonempty) > 0
    row_is_data = (row_uniq % KEY_STRIDE) > 0
    keep_row = row_has_text | ~row_is_data          # headers always kept
    # table gate: >=1 surviving data row
    gid_of_row = (row_uniq // KEY_STRIDE).astype(np.int64)
    data_rows_per_gid = np.bincount(
        gid_of_row, weights=(row_has_text & row_is_data),
        minlength=int(cells["gid"].max()) + 1)
    keep_cell = keep_row[row_codes] & (data_rows_per_gid[cells["gid"]] > 0)
    out = cells[keep_cell].copy()
    if len(out) == 0:
        return pd.DataFrame(columns=["doc_pos", *CELL_COLS])
    # compact surviving data rows to 1..K per grid (header stays 0)
    srk = out["gid"].to_numpy() * KEY_STRIDE + out["row"].to_numpy()
    scodes, suniq = pd.factorize(srk, sort=True)
    sg = (suniq // KEY_STRIDE).astype(np.int64)
    first_of_g = np.empty(len(sg), dtype=bool)
    first_of_g[0] = True
    first_of_g[1:] = sg[1:] != sg[:-1]
    rank = np.arange(len(sg)) - np.maximum.accumulate(
        np.where(first_of_g, np.arange(len(sg)), 0))
    out["row_idx"] = rank[scodes].astype(np.int64)
    out["is_header"] = out["row_idx"] == 0
    if "table_index" not in out.columns:   # fallback path: one table/page
        out["table_index"] = 0
    out["col_idx"] = out["col"].astype(np.int64)
    out["confidence"] = confidence
    return out[["doc_pos", *CELL_COLS]]


def _concat_cells(located: pd.DataFrame) -> pd.DataFrame:
    """Reading-order concat + whitespace collapse per (gid, row, col)."""
    located = located.sort_values(["gid", "row", "col", "y0", "x0", "offset"],
                                  kind="stable")
    joined = (located.groupby(["gid", "row", "col"], sort=True)["content"]
              .agg(" ".join).reset_index())
    joined["cell"] = (joined["content"].str.split().str.join(" "))
    return joined.drop(columns=["content"])


def infer_grid_tables(flat: pd.DataFrame) -> pd.DataFrame:
    """Primary + fallback table inference over a flat span frame.

    Returns (doc_pos, page, table_index, row_idx, col_idx, cell, is_header,
    confidence) — row_idx 0 is the header row, data rows are compacted to
    1..K after the all-empty-row drop.
    """
    empty = pd.DataFrame(columns=["doc_pos", *CELL_COLS])
    geo_ok = flat["x0"].notna() & flat["y0"].notna() \
        & flat["x1"].notna() & flat["y1"].notna()
    f = flat[geo_ok]
    if len(f) == 0:
        return empty

    primary = _primary_grid_tables(f)
    covered = primary[["doc_pos", "page"]].drop_duplicates() \
        if len(primary) else None
    text = f[f["kind"] == "text"]
    if covered is not None and len(covered):
        text = text.merge(covered, on=["doc_pos", "page"], how="left",
                          indicator=True)
        text = text[text["_merge"] == "left_only"].drop(columns=["_merge"])
    fallback = _fallback_text_tables(text)
    out = pd.concat([primary, fallback], ignore_index=True) \
        if len(fallback) else primary
    if len(out) == 0:
        return empty
    return (out.sort_values(["doc_pos", "page", "table_index", "row_idx",
                             "col_idx"], kind="stable")
            .reset_index(drop=True))


def _connected_components(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Vectorized connected components over n nodes and undirected edges
    (a[i], b[i]): iterative min-label propagation with pointer jumping —
    O(edges) numpy work per round, rounds bounded by component diameter
    (tiny for page rulings)."""
    label = np.arange(n, dtype=np.int64)
    for _ in range(64):
        m = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]                 # pointer jumping
        if np.array_equal(new, label):
            break
        label = new
    return label


def _primary_grid_tables(f: pd.DataFrame) -> pd.DataFrame:
    """Lines-strategy grids, pdfplumber-faithful: rulings snap into
    boundary clusters, h/v clusters that INTERSECT (extent overlap within
    SNAP_TOL) connect into components, and each component is one table —
    so a page carries any number of tables, ordered top-to-bottom /
    left-to-right into ``table_index`` exactly like ``find_tables``."""
    empty = pd.DataFrame(columns=["doc_pos", *CELL_COLS])
    lines = f[f["kind"] == "line"]
    rects = f[f["kind"] == "rect"]

    dy = (lines["y1"] - lines["y0"]).abs().to_numpy()
    dx = (lines["x1"] - lines["x0"]).abs().to_numpy()
    is_h = dy < 2
    is_v = (~is_h) & (dx < 2)

    def _part(df, orient, pos_a, pos_b, lo_a, lo_b):
        return pd.DataFrame({
            "doc_pos": df["doc_pos"].to_numpy(), "page": df["page"].to_numpy(),
            "orient": orient,
            "pos": ((df[pos_a] + df[pos_b]) / 2).to_numpy(),
            "lo": np.minimum(df[lo_a].to_numpy(), df[lo_b].to_numpy()),
            "hi": np.maximum(df[lo_a].to_numpy(), df[lo_b].to_numpy()),
        })

    parts = []
    if is_h.any():
        parts.append(_part(lines[is_h], 0, "y0", "y1", "x0", "x1"))
    if is_v.any():
        parts.append(_part(lines[is_v], 1, "x0", "x1", "y0", "y1"))
    if len(rects):
        for orient, pos_edge, lo_a, lo_b in (
                (0, "y0", "x0", "x1"), (0, "y1", "x0", "x1"),
                (1, "x0", "y0", "y1"), (1, "x1", "y0", "y1")):
            parts.append(_part(rects, orient, pos_edge, pos_edge, lo_a, lo_b))
    if not parts:
        return empty
    rul = pd.concat(parts, ignore_index=True)

    pcode = _page_codes(rul)
    rul = rul.assign(pcode=pcode)
    gkey = pcode * 2 + rul["orient"].to_numpy()
    cid, order, _ = _cluster_1d(gkey, rul["pos"].to_numpy(dtype=np.float64),
                                SNAP_TOL)
    rs = rul.iloc[order].reset_index(drop=True)
    rs["cl"] = cid
    cl = (rs.groupby("cl", sort=True)
          .agg(doc_pos=("doc_pos", "first"), page=("page", "first"),
               pcode=("pcode", "first"), orient=("orient", "first"),
               pos=("pos", "mean"), lo=("lo", "min"), hi=("hi", "max"))
          .reset_index())

    # intersection edges: an h-cluster meets a v-cluster when each one's
    # position falls inside the other's extent (pdfplumber's
    # edge-intersection rule, tolerance = SNAP_TOL)
    hb_cl = cl[cl["orient"] == 0]
    vb_cl = cl[cl["orient"] == 1]
    if len(hb_cl) == 0 or len(vb_cl) == 0:
        return empty
    e = hb_cl.merge(vb_cl, on="pcode", suffixes=("_h", "_v"))
    hit = ((e["pos_h"] >= e["lo_v"] - SNAP_TOL)
           & (e["pos_h"] <= e["hi_v"] + SNAP_TOL)
           & (e["pos_v"] >= e["lo_h"] - SNAP_TOL)
           & (e["pos_v"] <= e["hi_h"] + SNAP_TOL))
    edges = e.loc[hit, ["cl_h", "cl_v"]]
    if len(edges) == 0:
        return empty
    cl["comp"] = _connected_components(
        len(cl), edges["cl_h"].to_numpy(), edges["cl_v"].to_numpy())

    cl["is_h"] = (cl["orient"] == 0).astype(np.int64)
    cl["is_v"] = 1 - cl["is_h"]
    cl["pos_h"] = np.where(cl["is_h"] == 1, cl["pos"], np.inf)
    cl["pos_v"] = np.where(cl["is_v"] == 1, cl["pos"], np.inf)
    gr = (cl.groupby("comp", sort=True)
          .agg(doc_pos=("doc_pos", "first"), page=("page", "first"),
               n_h=("is_h", "sum"), n_v=("is_v", "sum"),
               min_y=("pos_h", "min"), min_x=("pos_v", "min"))
          .reset_index())
    # n_h>=3 <=> raw rows >= 2 (header + >=1 data, table_extractor.py:73)
    grids = gr[(gr["n_h"] >= 3) & (gr["n_v"] >= 2)].copy()
    if len(grids) == 0:
        return empty
    grids = grids.sort_values(["doc_pos", "page", "min_y", "min_x"],
                              kind="stable").reset_index(drop=True)
    grids["gid"] = np.arange(len(grids))
    grids["table_index"] = grids.groupby(["doc_pos", "page"]).cumcount()
    n_rows = (grids["n_h"] - 1).to_numpy(dtype=np.int64)
    n_cols = (grids["n_v"] - 1).to_numpy(dtype=np.int64)

    bounds = (cl.merge(grids[["comp", "gid"]], on="comp")
              .sort_values(["gid", "orient", "pos"], kind="stable"))
    hb = bounds[bounds["orient"] == 0]
    vb = bounds[bounds["orient"] == 1]
    h_starts = np.concatenate([[0], np.cumsum(n_rows + 1)[:-1]])
    v_starts = np.concatenate([[0], np.cumsum(n_cols + 1)[:-1]])
    h_keys = hb["gid"].to_numpy() * KEY_STRIDE + hb["pos"].to_numpy()
    v_keys = vb["gid"].to_numpy() * KEY_STRIDE + vb["pos"].to_numpy()

    # containment: fan text out to the page's candidate grids, keep the
    # (at most one) grid whose cell lattice contains the span center; a
    # center inside several overlapping grids goes to the lowest
    # table_index (deterministic)
    text = f[f["kind"] == "text"].reset_index(drop=True)
    text["span_idx"] = np.arange(len(text))
    text = text.merge(grids[["doc_pos", "page", "gid"]],
                      on=["doc_pos", "page"])
    if len(text) == 0:
        return empty
    text = text.sort_values(["span_idx", "gid"], kind="stable")
    g = text["gid"].to_numpy()
    cy = ((text["y0"] + text["y1"]) / 2).to_numpy(dtype=np.float64)
    cx = ((text["x0"] + text["x1"]) / 2).to_numpy(dtype=np.float64)
    row = np.searchsorted(h_keys, g * KEY_STRIDE + cy, side="right") - 1 \
        - h_starts[g]
    col = np.searchsorted(v_keys, g * KEY_STRIDE + cx, side="right") - 1 \
        - v_starts[g]
    inside = (row >= 0) & (row < n_rows[g]) & (col >= 0) & (col < n_cols[g])
    keep_first = ~text["span_idx"].where(inside).duplicated()
    inside = inside & keep_first.to_numpy()
    located = pd.DataFrame({
        "gid": g[inside], "row": row[inside], "col": col[inside],
        "y0": text["y0"].to_numpy()[inside], "x0": text["x0"].to_numpy()[inside],
        "offset": text["offset"].to_numpy()[inside],
        "content": text["content"].to_numpy()[inside],
    })
    joined = _concat_cells(located)

    gid, drow, dcol = _dense_cells(n_rows, n_cols)
    dense = pd.DataFrame({"gid": gid, "row": drow, "col": dcol})
    dense = dense.merge(joined, on=["gid", "row", "col"], how="left")
    dense["cell"] = dense["cell"].fillna("")
    dense = dense.merge(grids[["gid", "doc_pos", "page", "table_index"]],
                        on="gid")
    return _assemble_tables(dense, 1.0)


def _fallback_text_tables(text: pd.DataFrame) -> pd.DataFrame:
    """Text-alignment strategy (confidence 0.7): y0 clusters are rows, x0
    clusters are columns; >=2 of each required."""
    empty = pd.DataFrame(columns=["doc_pos", *CELL_COLS])
    if len(text) == 0:
        return empty
    pcode = _page_codes(text)
    y = text["y0"].to_numpy(dtype=np.float64)
    x = text["x0"].to_numpy(dtype=np.float64)

    rcid, rorder, _ = _cluster_1d(pcode, y, SNAP_TOL)
    row_of = np.empty(len(text), dtype=np.int64)
    row_of[rorder] = rcid
    ccid, corder, _ = _cluster_1d(pcode, x, SNAP_TOL)
    col_of = np.empty(len(text), dtype=np.int64)
    col_of[corder] = ccid

    # local (0-based) row/col index per page
    df = pd.DataFrame({
        "pcode": pcode, "doc_pos": text["doc_pos"].to_numpy(),
        "page": text["page"].to_numpy(),
        "rglob": row_of, "cglob": col_of,
        "y0": y, "x0": x,
        "offset": text["offset"].to_numpy(),
        "content": text["content"].to_numpy(),
    })
    rmin = df.groupby("pcode")["rglob"].transform("min")
    cmin = df.groupby("pcode")["cglob"].transform("min")
    df["row"] = df["rglob"] - rmin
    df["col"] = df["cglob"] - cmin

    dims = df.groupby("pcode").agg(
        n_rows=("row", "max"), n_cols=("col", "max")).reset_index()
    dims["n_rows"] += 1
    dims["n_cols"] += 1
    dims = dims[(dims["n_rows"] >= 2) & (dims["n_cols"] >= 2)]
    if len(dims) == 0:
        return empty
    dims = dims.reset_index(drop=True)
    dims["gid"] = np.arange(len(dims))
    df = df.merge(dims[["pcode", "gid"]], on="pcode")
    joined = _concat_cells(df[["gid", "row", "col", "y0", "x0",
                               "offset", "content"]])

    n_rows = dims["n_rows"].to_numpy(dtype=np.int64)
    n_cols = dims["n_cols"].to_numpy(dtype=np.int64)
    gid, drow, dcol = _dense_cells(n_rows, n_cols)
    dense = pd.DataFrame({"gid": gid, "row": drow, "col": dcol})
    dense = dense.merge(joined, on=["gid", "row", "col"], how="left")
    dense["cell"] = dense["cell"].fillna("")
    pagekey = df[["gid", "doc_pos", "page"]].drop_duplicates("gid")
    dense = dense.merge(pagekey, on="gid")
    return _assemble_tables(dense, 0.7)
