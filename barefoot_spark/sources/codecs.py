"""Codec seam: ONE encode/decode interface per modality, so real codec
libraries drop in the moment a container ships them, without touching
any Spark plumbing (schemas, mapInPandas kernels, verification ops all
call through this module).

Resolution order per modality, decided once per Python process at
import time (driver AND each Spark Python worker resolve identically,
which is what makes `pip install pillow` on the cluster image the whole
upgrade path):

- image: Pillow (``PIL``) if importable, else the deterministic zlib
  stand-in documented in sources/images.py.
- audio: ``soundfile`` if importable, else the zlib-PCM stand-in.
- video: the index-seekable fake container only (a real adapter would
  wrap PyAV/ffmpeg the same way; none is attempted because no partial
  real format exists to degrade to).

``set_image_codec``/``set_audio_codec`` swap the singleton for TESTS in
the current process only — worker processes re-resolve the default, so
overriding is not a cluster configuration mechanism (install the
library instead).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


# ---------------------------------------------------------------------------
# images
# ---------------------------------------------------------------------------

class StandInImageCodec:
    """Deterministic stand-in with the real formats' semantics:
    "png" lossless (zlib over raw RGB), "jpeg" lossy (6-bit/channel
    quantization + zlib, PSNR ~= 47 dB — above the 40 dB invariant)."""

    name = "standin"

    def encode(self, pixels: np.ndarray, fmt: str) -> bytes:
        if fmt == "png":
            return zlib.compress(pixels.tobytes(), 1)
        if fmt == "jpeg":
            return zlib.compress((pixels & 0xFC).tobytes(), 1)
        raise NotImplementedError(
            f"codec for fmt={fmt!r} not available in this container")

    def decode(self, data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
        # mixed-fleet guard (the mirror of PillowImageCodec's zlib
        # sniff): blobs written by a REAL codec start 0x89 (PNG) or
        # 0xFF 0xD8 (JPEG), not a zlib CMF byte — fail with an
        # actionable message instead of a cryptic zlib.error deep in a
        # task when a worker without Pillow reads Pillow-written data
        if data[:1] == b"\x89" or data[:2] == b"\xff\xd8":
            raise RuntimeError(
                "image bytes were encoded with a real codec "
                "(PNG/JPEG magic found); the stand-in codec cannot "
                "decode them — install Pillow on this worker so the "
                "PillowImageCodec adapter resolves")
        raw = np.frombuffer(zlib.decompress(data),
                            dtype=np.uint8).reshape(h, w, 3)
        if fmt == "png":
            return raw.copy()
        if fmt == "jpeg":
            return (raw | 0x02).copy()   # mid-point dequantization
        raise NotImplementedError(
            f"codec for fmt={fmt!r} not available in this container")


class PillowImageCodec:
    """Real codec adapter: drops in automatically when PIL is
    installed. Same contract as the stand-in — encode RGB uint8
    (h, w, 3) to the named format, decode back."""

    name = "pillow"

    def __init__(self):
        from PIL import Image   # raises ImportError when absent
        self._Image = Image

    def encode(self, pixels: np.ndarray, fmt: str) -> bytes:
        import io
        img = self._Image.fromarray(pixels, mode="RGB")
        buf = io.BytesIO()
        if fmt == "png":
            img.save(buf, format="PNG")
        elif fmt == "jpeg":
            img.save(buf, format="JPEG", quality=95)   # PSNR >= 40 dB
        else:
            raise NotImplementedError(f"unsupported fmt={fmt!r}")
        return buf.getvalue()

    def decode(self, data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
        # back-compat carve-out: tables written before the Pillow
        # upgrade hold stand-in blobs under the same "png"/"jpeg" tags.
        # A zlib stream starts 0x78 (or low-nibble 0x08 CMF), while a
        # real PNG starts 0x89 and a JPEG 0xFF — sniff and route
        # stand-in bytes through the stand-in decoder so an upgraded
        # fleet keeps reading pre-upgrade data.
        if data[:1] == b"\x78":
            return StandInImageCodec().decode(data, w, h, fmt)
        import io
        img = self._Image.open(io.BytesIO(data)).convert("RGB")
        px = np.asarray(img, dtype=np.uint8)
        if px.shape != (h, w, 3):
            raise ValueError(f"decoded {px.shape}, metadata says {(h, w, 3)}")
        return px


def _default_image_codec():
    try:
        return PillowImageCodec()
    except ImportError:
        return StandInImageCodec()


_IMAGE_CODEC = _default_image_codec()


def get_image_codec():
    return _IMAGE_CODEC


def set_image_codec(codec):
    """Swap the process-local image codec (tests); returns the old one."""
    global _IMAGE_CODEC
    old, _IMAGE_CODEC = _IMAGE_CODEC, codec
    return old


# ---------------------------------------------------------------------------
# audio
# ---------------------------------------------------------------------------

class StandInAudioCodec:
    """zlib-compressed mono int16 PCM ("pcm" codec tag only)."""

    name = "standin"

    def encode(self, pcm: np.ndarray, codec: str = "pcm",
               sr: int = 8000) -> bytes:
        if codec != "pcm":
            raise NotImplementedError(
                f"codec {codec!r} not available in this container")
        return zlib.compress(pcm.tobytes(), 1)

    def decode(self, data: bytes, codec: str = "pcm") -> np.ndarray:
        if codec != "pcm":
            raise NotImplementedError(
                f"codec {codec!r} not available in this container")
        return np.frombuffer(zlib.decompress(data), dtype=np.int16)


class SoundFileAudioCodec:
    """Real codec adapter for ``soundfile`` (WAV/FLAC/OGG); keeps the
    "pcm" tag on the zlib stand-in path so existing tables stay
    readable after the upgrade."""

    name = "soundfile"

    def __init__(self):
        import soundfile   # raises ImportError when absent
        self._sf = soundfile
        self._fallback = StandInAudioCodec()

    def encode(self, pcm: np.ndarray, codec: str = "pcm",
               sr: int = 8000) -> bytes:
        if codec == "pcm":
            return self._fallback.encode(pcm, codec, sr)
        import io
        buf = io.BytesIO()
        f = codec.upper()
        # OGG rejects PCM subtypes (needs VORBIS) — let soundfile pick
        # the format's default subtype, falling back to 16-bit PCM
        sub = self._sf.default_subtype(f) or "PCM_16"
        self._sf.write(buf, pcm, sr, format=f, subtype=sub)
        return buf.getvalue()

    def decode(self, data: bytes, codec: str = "pcm") -> np.ndarray:
        if codec == "pcm":
            return self._fallback.decode(data, codec)
        import io
        x, _sr = self._sf.read(io.BytesIO(data), dtype="int16")
        return np.asarray(x, dtype=np.int16)


def _default_audio_codec():
    try:
        return SoundFileAudioCodec()
    except ImportError:
        return StandInAudioCodec()


_AUDIO_CODEC = _default_audio_codec()


def get_audio_codec():
    return _AUDIO_CODEC


def set_audio_codec(codec):
    global _AUDIO_CODEC
    old, _AUDIO_CODEC = _AUDIO_CODEC, codec
    return old


# ---------------------------------------------------------------------------
# video (fake indexed container only; a real adapter wraps PyAV the
# same way — container scan -> per-frame seek+decode)
# ---------------------------------------------------------------------------

class StandInVideoCodec:
    """Index-seekable fake container: header n_frames, then per frame a
    4-byte length + zlib(frame RGB) — frame sampling decodes ONLY the
    sampled frames (the keyframe-seek property of a real container)."""

    name = "standin"

    def frame_offsets(self, data: bytes) -> list:
        n = struct.unpack_from("<I", data, 0)[0]
        out = []
        pos = 4
        for _ in range(n):
            ln = struct.unpack_from("<I", data, pos)[0]
            out.append((pos + 4, ln))
            pos += 4 + ln
        return out

    def encode_frames(self, frames) -> bytes:
        chunks = [struct.pack("<I", len(frames))]
        for fr in frames:
            fb = zlib.compress(fr.tobytes(), 1)
            chunks.append(struct.pack("<I", len(fb)))
            chunks.append(fb)
        return b"".join(chunks)

    def decode_frame(self, data: bytes, offsets, idx: int, w: int, h: int,
                     codec: str = "fake") -> np.ndarray:
        if codec != "fake":
            raise NotImplementedError(
                f"codec {codec!r} not available in this container")
        off, ln = offsets[idx]
        return np.frombuffer(zlib.decompress(data[off:off + ln]),
                             dtype=np.uint8).reshape(h, w, 3)


_VIDEO_CODEC = StandInVideoCodec()


def get_video_codec():
    return _VIDEO_CODEC
