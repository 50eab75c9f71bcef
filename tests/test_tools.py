"""Spark-free guards of the measurement tools."""

import os

import pytest

from tools.amplify_sf import check_dst, main


def test_amplify_refuses_dst_inside_src(tmp_path):
    src = tmp_path / "sf"
    src.mkdir()
    (tmp_path / "link").symlink_to(src)
    for dst in (src, tmp_path / "sf" / ".", tmp_path / "link", src / "amp", tmp_path / "link" / "amp"):
        with pytest.raises(ValueError):
            check_dst(str(src), str(dst))
    check_dst(str(src), str(tmp_path / "sf_amp"))  # a sibling sharing the prefix is fine
    with pytest.raises(ValueError):
        main([str(src), str(src / "amp"), "2"])
    assert not os.path.exists(src / "amp")
