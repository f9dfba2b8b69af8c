"""WAV (RIFF/WAVE PCM) codec + audio-feature kernel tests."""

import struct

import numpy as np
import pytest

from georaster_spark.sources.wav import WavError, decode_wav, encode_wav


class TestRoundTrip:
    @pytest.mark.parametrize("shape", [(1,), (100,), (257, 1), (64, 2), (33, 6)])
    @pytest.mark.parametrize("rate", [8000, 44100])
    def test_pcm16(self, shape, rate):
        rng = np.random.default_rng(hash((shape, rate)) % 2**32)
        s = rng.integers(-32768, 32768, shape, dtype=np.int16)
        out, out_rate = decode_wav(encode_wav(s, rate))
        exp = s[:, None] if s.ndim == 1 else s
        assert out_rate == rate
        assert out.dtype == np.int16
        assert (out == exp).all()

    def test_odd_data_size_gets_pad_byte(self):
        # 1 mono sample -> 2 data bytes (even); 3 channels x 1 sample
        # of 8-bit would be odd, but our encoder is 16-bit — craft an
        # odd chunk via a trailing extra chunk instead
        s = np.array([123], np.int16)
        blob = encode_wav(s, 8000) + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        out, rate = decode_wav(blob)
        assert (out == [[123]]).all() and rate == 8000


class TestDecoder:
    def test_8bit_pcm_widens(self):
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
        data = bytes([0, 128, 255])
        body = (
            b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 3) + data + b"\x00"
        )
        out, rate = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
        assert out[:, 0].tolist() == [(-128) << 8, 0, 127 << 8]

    def test_unknown_chunks_skipped(self):
        s = np.array([[5, -5]], np.int16)
        blob = encode_wav(s, 16000)
        # splice a junk chunk between WAVE and fmt
        junk = b"JUNK" + struct.pack("<I", 5) + b"xxxxx" + b"\x00"
        spliced = blob[:12] + junk + blob[12:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        out, rate = decode_wav(spliced)
        assert (out == s).all()

    def test_non_pcm_rejected(self):
        fmt = struct.pack("<HHIIHH", 85, 1, 44100, 0, 0, 0)  # 85 = MP3
        body = (
            b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", 0)
        )
        with pytest.raises(WavError, match="non-PCM"):
            decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)

    def test_not_riff(self):
        with pytest.raises(WavError, match="RIFF"):
            decode_wav(b"ID3\x04" + b"\x00" * 30)

    def test_truncated_chunk(self):
        blob = encode_wav(np.zeros(50, np.int16), 8000)
        with pytest.raises(WavError, match="truncated"):
            decode_wav(blob[:-10])
