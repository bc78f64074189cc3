"""Property test: the mp4 container round-trip holds for arbitrary
generated inputs (hypothesis)."""

from hypothesis import given, settings, strategies as st

import media_fixtures as fx
from tegola_spark.operators import mp4codec as M

frames_strategy = st.lists(
    st.binary(min_size=1, max_size=512), min_size=1, max_size=40)


@settings(max_examples=40, deadline=None)
@given(frames=frames_strategy,
       w=st.integers(min_value=1, max_value=4096),
       h=st.integers(min_value=1, max_value=4096),
       fps=st.integers(min_value=1, max_value=120),
       every=st.integers(min_value=1, max_value=7))
def test_mp4_roundtrip_property(frames, w, h, fps, every):
    b = fx.encode_mp4(frames, width=w, height=h, fps=fps)
    info = M.parse_mp4(b)
    (t,) = info["tracks"]
    assert (t["width"], t["height"], t["n_samples"]) == (w, h, len(frames))
    assert M.frame_samples(b) == frames
    assert M.frame_samples(b, every_n=every) == frames[::every]
    d = M.decode_mp4(b)
    assert d["n_frames"] == len(frames) and d["codec"] == "mp4v"
