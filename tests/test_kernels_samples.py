"""Unit tests for the vectorized P1/P2 decoder against the reference's
stub fixtures (reference tests/fixtures/stub_samples.py, test_footnote_symbols.py)."""

import pandas as pd
import pytest

from rca_pdf_extraction_pipeline_spark.kernels.samples import (
    decode_samples,
    parse_blocks,
    segment_lines,
)


def block(lines, block_id=0):
    return pd.DataFrame({"block_id": [block_id], "text": ["\n".join(lines)]})


# --- the reference's stub line lists (public fixture data) -----------------

NORMAL = ["1", "1-1", "9,580.50", "0.0011", "0.0003", "0.9", "0.9", "2.70",
          "96.5", "1.5", "98.1"]
PLUS = ["1", "1-2(F)", "9,581.50", "+", "1.2", "2.70", "76.4", "0.8", "77.2"]
DETECT = ["1", "1-3", "9,582.10", "<0.0001", "0.3", "0.3", "2.69", "**"]
STAR = ["1", "1-14", "9,593.50", "0.0005", "0.0001", "1.6", "1.6", "2.71", "**"]
LOWER_F = ["1", "1-9(f)", "9,588.50", "0.0027", "0.0009", "0.9", "0.9", "2.71", "**"]
PLUS_STAR = ["1", "1-4(F)", "9,583.50", "+", "0.9", "2.69", "**"]
TOO_LONG = ["line"] * 25


def decode_one(lines):
    out = parse_blocks(block(lines))
    assert len(out) == 1
    return out.iloc[0]


def test_normal_branch():
    r = decode_one(NORMAL)
    assert r.core_number == "1"
    assert r.sample_number == "1-1"
    assert r.depth_feet == "9580.5"
    assert r.permeability_air_md == "0.0011"
    assert r.permeability_klink_md == "0.0003"
    assert r.porosity_ambient_pct == "0.9"
    assert r.porosity_ncs_pct == "0.9"
    assert r.grain_density_gcc == "2.7"
    assert (r.saturation_water_pct, r.saturation_oil_pct, r.saturation_total_pct) \
        == ("96.5", "1.5", "98.1")


def test_plus_branch_replicates_and_leaves_ncs_empty():
    r = decode_one(PLUS)
    assert r.permeability_air_md == "+" and r.permeability_klink_md == "+"
    assert r.porosity_ambient_pct == "1.2"
    assert r.porosity_ncs_pct == ""  # NCS stays empty on '+' rows
    assert r.grain_density_gcc == "2.7"
    assert (r.saturation_water_pct, r.saturation_oil_pct, r.saturation_total_pct) \
        == ("76.4", "0.8", "77.2")


def test_detection_limit_branch():
    r = decode_one(DETECT)
    assert r.permeability_air_md == "<0.0001"
    assert r.permeability_klink_md == "<0.0001"
    assert r.porosity_ambient_pct == "0.3"
    assert r.porosity_ncs_pct == "0.3"
    assert r.grain_density_gcc == "2.69"
    assert r.saturation_water_pct == "**"
    assert r.saturation_oil_pct == "**"
    assert r.saturation_total_pct == "**"


def test_star_saturation_replication():
    r = decode_one(STAR)
    assert r.permeability_air_md == "0.0005"
    assert (r.saturation_water_pct, r.saturation_oil_pct, r.saturation_total_pct) \
        == ("**", "**", "**")


def test_fracture_indicator_case_preserved():
    r_low = decode_one(LOWER_F)
    assert r_low.sample_number == "1-9(f)"
    r_up = decode_one(PLUS)
    assert r_up.sample_number == "1-2(F)"


def test_plus_with_star_saturations():
    r = decode_one(PLUS_STAR)
    assert r.permeability_air_md == "+" and r.permeability_klink_md == "+"
    assert r.porosity_ambient_pct == "0.9" and r.porosity_ncs_pct == ""
    assert r.grain_density_gcc == "2.69"
    assert r.saturation_water_pct == "**"


def test_max_sample_lines_guard():
    lines = ["7", "7-1", "9,700.00"] + ["9.9"] * 22  # 25 lines, valid boundary
    out = parse_blocks(block(lines))
    assert len(out) == 0


def test_min_sample_lines_guard():
    out = parse_blocks(block(["1", "1-1", "9,580.50", "0.5"]))  # 4 lines
    assert len(out) == 0


def test_multi_sample_segmentation():
    lines = NORMAL + PLUS + DETECT
    out = parse_blocks(block(lines))
    assert list(out.sample_number) == ["1-1", "1-2(F)", "1-3"]
    assert list(out.depth_feet) == ["9580.5", "9581.5", "9582.1"]


def test_lines_before_first_boundary_dropped():
    lines = ["garbage", "more garbage"] + NORMAL
    out = parse_blocks(block(lines))
    assert len(out) == 1 and out.iloc[0].sample_number == "1-1"


def test_samples_do_not_cross_blocks():
    b = pd.DataFrame({
        "block_id": [0, 1],
        "text": ["\n".join(NORMAL[:6]), "\n".join(NORMAL[6:] + PLUS)],
    })
    out = parse_blocks(b)
    # block 0's sample is truncated at the block edge (6 lines), block 1
    # starts fresh at the '+' sample
    assert list(out.sample_number) == ["1-1", "1-2(F)"]
    r0 = out.iloc[0]
    assert r0.porosity_ncs_pct == ""  # truncated: only 3 values present
    assert r0.block_id == 0 and out.iloc[1].block_id == 1


def test_unparseable_depth_dropped():
    # boundary regex requires well-formed depth, so a sample can only reach
    # the depth guard via matrix truncation edge cases; check direct API
    seg = segment_lines(block(NORMAL))
    seg.loc[seg["pos"] == 2, "line"] = "not-a-depth"
    out = decode_samples(seg)
    assert len(out) == 0


def test_empty_input():
    assert len(parse_blocks(pd.DataFrame(columns=["block_id", "text"]))) == 0
    assert len(decode_samples(segment_lines(block(["no", "samples", "here"])))) == 0


def test_float_formatting_matches_python_repr():
    r = decode_one(["1", "1-7(F)", "9,586.50", "0.5", "0.25", "1.4", "1.4",
                    "2.71", "76.9", "0.2", "77.0"])
    assert r.saturation_total_pct == "77.0"  # str(77.0), not '77'
    assert r.depth_feet == "9586.5"


def test_typed_shadow_columns():
    out = parse_blocks(block(PLUS))
    r = out.iloc[0]
    assert r.depth_feet_f == pytest.approx(9581.5)
    assert r.porosity_ambient_pct_f == pytest.approx(1.2)
