"""Property-based guards for the snappy, LZ4 and zstd helpers of
vrl_spark.functions.formats: any bytes the encoders produce must
decode back exactly, and mangled or garbage streams must either raise
the helpers' typed error (ValueError) or decode to bytes — never a
foreign exception, and for LZ4 never bytes of a length other than the
walked one.

Strategies lean on compressible structure (repeated chunks) as well
as raw randomness so the match/copy paths get real work, not just
literal passthrough."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from vrl_spark.functions.formats import (
    _lz4_compress,
    _lz4_decoded_len,
    _lz4_decompress,
    _snappy_compress,
    _snappy_decompress,
    _zstd_decompress,
)
from vrl_spark.functions.zstdcodec import zstd_compress

# raw bytes, or structured repetition (forces matches/overlaps)
_payload = st.one_of(
    st.binary(max_size=4096),
    st.builds(
        lambda chunk, n, tail: chunk * n + tail,
        st.binary(min_size=1, max_size=64),
        st.integers(min_value=1, max_value=200),
        st.binary(max_size=32),
    ),
    st.builds(
        lambda alphabet, draws: bytes(
            alphabet[i % len(alphabet)] for i in draws
        ),
        st.binary(min_size=1, max_size=4),
        st.lists(st.integers(0, 3), max_size=2048),
    ),
)


def _mangle(comp: bytes, draw) -> bytes:
    """Flip 1-4 bytes, then maybe cut the tail off."""
    comp = bytearray(comp)
    for _ in range(draw.draw(st.integers(1, 4))):
        i = draw.draw(st.integers(0, len(comp) - 1))
        comp[i] ^= draw.draw(st.integers(1, 255))
    return bytes(comp[:draw.draw(st.integers(0, len(comp)))])


def _lz4_checked(src: bytes, buf_size: int = 1_000_000) -> None:
    """Decode a bare block: ValueError, or exactly the walked length."""
    try:
        out = _lz4_decompress(src, buf_size, False)
    except ValueError:
        return
    assert len(out) == _lz4_decoded_len(src)


@settings(max_examples=60, deadline=None)
@given(_payload)
def test_snappy_roundtrip_property(data):
    assert _snappy_decompress(_snappy_compress(data)) == data


@settings(max_examples=60, deadline=None)
@given(_payload)
def test_lz4_roundtrip_property(data):
    assert _lz4_decompress(_lz4_compress(data, False), len(data),
                           False) == data
    assert _lz4_decompress(_lz4_compress(data, True), 0, True) == data


@settings(max_examples=40, deadline=None)
@given(_payload)
def test_zstd_roundtrip_property(data):
    assert _zstd_decompress(zstd_compress(data)) == data


@settings(max_examples=60, deadline=None)
@given(_payload, st.data())
def test_zstd_mangled_never_escapes_typed_error(data, draw):
    try:
        _zstd_decompress(_mangle(zstd_compress(data), draw))
    except ValueError:
        pass  # the only acceptable exception type


@settings(max_examples=60, deadline=None)
@given(_payload, st.data())
def test_lz_mangled_never_escape_typed_error(data, draw):
    try:
        _snappy_decompress(_mangle(_snappy_compress(data), draw))
    except ValueError:
        pass
    _lz4_checked(_mangle(_lz4_compress(data, False), draw))
    try:
        _lz4_decompress(_mangle(_lz4_compress(data, True), draw), 0, True)
    except ValueError:
        pass


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=200))
def test_lz_decoders_never_escape_valueerror(garbage):
    for fn in (_snappy_decompress, _zstd_decompress,
               lambda v: _lz4_decompress(v, 0, True)):
        try:
            fn(garbage)
        except ValueError:
            pass  # typed error; anything else would fail the test
    _lz4_checked(garbage)
