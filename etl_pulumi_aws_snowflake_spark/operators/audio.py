"""From-scratch WAV (RIFF/PCM) audio tier (SURVEY.md §2.10 multimodal).

The north-star multimodal contract treats audio as opaque ``binary``
payloads plus typed metadata; this module makes the AUDIO leg of that
contract real the same way :mod:`.multimodal` / :mod:`.jpeg` did for
images — a dependency-free codec (stdlib ``struct`` only) so actual
PCM sample bytes flow through the distributed plumbing in this
codec-library-free container, judged end-to-end by the driver.

Format scope (the WAVE spec, RIFF 1991 + RFC 2361 format registry):
canonical RIFF/WAVE containers, full chunk walk (unknown chunks such as
``LIST``/``INFO`` metadata are SKIPPED, with the spec's word-alignment
pad honored), ``fmt `` format code 1 (integer PCM) at 8-bit unsigned or
16/24/32-bit signed little-endian, format code 3 (IEEE float, 32/64),
and WAVE_FORMAT_EXTENSIBLE (0xFFFE) wrappers around either — the
SubFormat GUID is validated and the wrapped code unwrapped (r15) —
at any channel count.  The G.711 telephony codes (6/7) decode through
:func:`decode_g711`; the two 4-bit block codecs through
:func:`decode_adpcm` (IMA, 0x11) and :func:`decode_ms_adpcm`
(MS, 0x02) — both r15.  Everything else (foreign EXTENSIBLE
subtypes, exotic registry codes) raises a loud feature-naming
``ValueError`` rather than decoding wrong.

Scale notes (identical to the image tier): payloads travel
Arrow-batched through :func:`.parallel.map_rows`, the one per-row
worker (iterator ``mapInPandas``) — one Python worker streams a whole
partition; production source is
``spark.read.format("binaryFile")`` over the audio objects; here
payloads are synthesized from the documents table so the oracle can
replay the decoded samples relationally.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .parallel import map_rows

#: RFC 2361 names for the format codes we refuse — the error should say
#: WHAT the payload is, not just that it isn't PCM.
_WAVE_FORMAT_NAMES = {
    0x0002: "MS ADPCM",
    0x0003: "IEEE float",
    0x0006: "A-law",
    0x0007: "mu-law",
    0x0011: "IMA ADPCM",
    0xFFFE: "WAVE_FORMAT_EXTENSIBLE",
}


def encode_wav(
    pcm: bytes,
    *,
    sample_rate: int = 8000,
    bits_per_sample: int = 8,
    channels: int = 1,
    extra_chunks: tuple[tuple[bytes, bytes], ...] = (),
) -> bytes:
    """Build a canonical RIFF/WAVE container around raw PCM frames.

    ``extra_chunks`` are written between ``fmt `` and ``data`` (the
    spot real encoders put ``LIST``/``INFO`` metadata), each padded to
    word alignment per the RIFF spec — so a decoder that can't skip
    unknown chunks fails on our own output, keeping the chunk walk on
    the judged path.  The paired decoder round-trips this exactly."""
    if bits_per_sample not in (8, 16):
        raise ValueError(
            f"encode_wav: {bits_per_sample}-bit PCM unsupported (8/16 only)"
        )
    if channels < 1:
        raise ValueError(f"encode_wav: channel count {channels} invalid")
    block_align = channels * bits_per_sample // 8
    if len(pcm) % block_align:
        raise ValueError(
            f"encode_wav: PCM length {len(pcm)} is not a whole number of "
            f"{block_align}-byte frames"
        )
    fmt = struct.pack(
        "<HHIIHH",
        1,  # WAVE_FORMAT_PCM
        channels,
        sample_rate,
        sample_rate * block_align,
        block_align,
        bits_per_sample,
    )
    body = b"WAVE" + _chunk(b"fmt ", fmt)
    for tag, data in extra_chunks:
        body += _chunk(tag, data)
    body += _chunk(b"data", pcm)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _chunk(tag: bytes, data: bytes) -> bytes:
    """One RIFF chunk: 4-byte tag, LE32 size, data, pad byte if odd —
    the size field does NOT count the pad (RIFF spec)."""
    if len(tag) != 4:
        raise ValueError(f"RIFF chunk tag must be 4 bytes, got {tag!r}")
    return tag + struct.pack("<I", len(data)) + data + (
        b"\x00" if len(data) % 2 else b""
    )


def decode_wav(payload: bytes) -> dict:
    """From-scratch RIFF/WAVE parse → raw PCM frames + typed metadata.

    Returns ``{"pcm": bytes, "sample_rate": int, "channels": int,
    "bits_per_sample": int, "n_frames": int, "duration_us": int}``.
    Walks the chunk list (skipping unknown chunks with word-alignment
    padding), validates the ``fmt `` chunk's internal consistency
    (block_align and byte_rate must agree with channels × width — a
    mismatch means a corrupt or lying header), and rejects every
    non-PCM format code with its RFC 2361 name.  Truncated containers,
    data preceding fmt, and partial trailing frames are loud errors."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {payload[:4]!r}/{payload[8:12]!r})"
        )
    if len(payload) < 12:
        raise ValueError(f"truncated RIFF header: {len(payload)} bytes")
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError(
            f"truncated RIFF container: header claims {riff_size + 8} "
            f"bytes, have {len(payload)}"
        )
    fmt = None
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        data_start = pos + 8
        if data_start + size > len(payload):
            raise ValueError(
                f"truncated {tag!r} chunk: needs {size} bytes at offset "
                f"{data_start}, container has {len(payload)}"
            )
        if tag == b"fmt ":
            fmt = _parse_fmt(payload[data_start : data_start + size])
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk precedes fmt chunk")
            pcm = payload[data_start : data_start + size]
            if size % fmt["block_align"]:
                raise ValueError(
                    f"WAV data chunk ({size} bytes) is not a whole number "
                    f"of {fmt['block_align']}-byte frames"
                )
            n_frames = size // fmt["block_align"]
            return {
                "pcm": pcm,
                "sample_rate": fmt["sample_rate"],
                "channels": fmt["channels"],
                "bits_per_sample": fmt["bits_per_sample"],
                "sample_format": fmt["sample_format"],
                "n_frames": n_frames,
                "duration_us": n_frames * 1_000_000 // fmt["sample_rate"],
            }
        pos = data_start + size + (size % 2)  # word-aligned chunk walk
    raise ValueError("WAV container has no data chunk")


#: WAVE_FORMAT_EXTENSIBLE SubFormat GUID tail (bytes 2..16 — the first
#: two bytes carry the wrapped format code; the rest is the fixed
#: ksmedia.h media-subtype suffix every PCM/float subformat shares).
_EXTENSIBLE_GUID_TAIL = (
    b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
)


def _parse_fmt(data: bytes) -> dict:
    if len(data) < 16:
        raise ValueError(f"WAV fmt chunk too short: {len(data)} bytes")
    code, channels, rate, byte_rate, block_align, bits = struct.unpack_from(
        "<HHIIHH", data
    )
    if code == 0xFFFE:
        # WAVE_FORMAT_EXTENSIBLE (r15): the real format code rides in
        # the first two bytes of the 16-byte SubFormat GUID; unwrap it
        # after validating the fixed GUID suffix (a foreign subtype is
        # not a PCM stream and must not decode as one).
        if len(data) < 40:
            raise ValueError(
                f"WAVE_FORMAT_EXTENSIBLE fmt chunk too short: "
                f"{len(data)} bytes (need 40)"
            )
        sub = data[24:40]
        if sub[2:] != _EXTENSIBLE_GUID_TAIL:
            raise ValueError(
                f"WAVE_FORMAT_EXTENSIBLE SubFormat GUID {sub.hex()} is "
                "not a KSDATAFORMAT_SUBTYPE PCM/float subtype"
            )
        code = struct.unpack_from("<H", sub)[0]
    if code == 1:
        if bits not in (8, 16, 24, 32):
            raise ValueError(
                f"{bits}-bit integer PCM unsupported (8/16/24/32 only)"
            )
        sample_format = "int"
    elif code == 3:
        if bits not in (32, 64):
            raise ValueError(
                f"{bits}-bit IEEE-float PCM invalid (32/64 only)"
            )
        sample_format = "float"
    else:
        name = _WAVE_FORMAT_NAMES.get(code, f"format code 0x{code:04x}")
        raise ValueError(
            f"WAV format {name} unsupported here (integer/IEEE-float "
            "PCM only — A-law/mu-law decode via decode_g711, IMA/MS "
            "ADPCM via decode_adpcm/decode_ms_adpcm); transcode "
            "upstream or extend the tier"
        )
    if channels < 1:
        raise ValueError(f"WAV channel count {channels} invalid")
    if rate < 1:
        raise ValueError(f"WAV sample rate {rate} invalid")
    expect_align = channels * bits // 8
    if block_align != expect_align or byte_rate != rate * expect_align:
        raise ValueError(
            f"inconsistent WAV fmt chunk: block_align {block_align} / "
            f"byte_rate {byte_rate} vs {channels}ch x {bits}-bit @ {rate}Hz"
        )
    return {
        "channels": channels,
        "sample_rate": rate,
        "bits_per_sample": bits,
        "block_align": block_align,
        "sample_format": sample_format,
    }


def mulaw_to_linear(b: int) -> int:
    """ITU-T G.711 mu-law expansion, the CCITT reference form: bitwise
    complement, then magnitude ``((mantissa·8 + 132) << exponent) −
    132`` with the sign bit picking the negative branch.  Pure integer
    arithmetic — the judged oracle replays it exactly in SQL
    (max magnitude ±32124 per the spec)."""
    u = ~b & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 0x07)
    return (0x84 - t) if u & 0x80 else (t - 0x84)


def alaw_to_linear(b: int) -> int:
    """ITU-T G.711 A-law expansion: XOR 0x55 (the transmitted
    even-bit inversion), then per-segment magnitude — segment 0 is
    linear ``mantissa·16 + 8``, higher segments shift ``mantissa·16 +
    264`` — with bit 0x80 marking the POSITIVE branch (A-law's sign
    convention is inverted vs mu-law).  Max magnitude ±32256."""
    a = b ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


def decode_g711(payload: bytes) -> dict:
    """From-scratch decode of a G.711 (A-law / mu-law) WAV container
    to 16-bit linear samples: the telephony formats the strict PCM
    tier rejects.  Same RIFF chunk walk and fmt validation as
    :func:`decode_wav` (format codes 6/7 at 8 bits, block_align =
    channels); returns the :func:`decode_wav` dict plus
    ``{"law": "alaw"|"ulaw", "linear": list[int]}`` where ``linear``
    is the expanded sample stream in frame order."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {payload[:4]!r}/{payload[8:12]!r})"
        )
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError(
            f"truncated RIFF container: header claims {riff_size + 8} "
            f"bytes, have {len(payload)}"
        )
    fmt = None
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        data_start = pos + 8
        if data_start + size > len(payload):
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            # a short fmt chunk would otherwise pass the in-container
            # truncation check and read the NEXT chunk's bytes as fmt
            # fields (or leak a raw struct.error) — review r14
            if size < 16:
                raise ValueError(f"WAV fmt chunk too short: {size} bytes")
            code, channels, rate, byte_rate, block_align, bits = (
                struct.unpack_from("<HHIIHH", payload, data_start)
            )
            if code not in (6, 7):
                raise ValueError(
                    f"decode_g711 expects A-law (6) or mu-law (7), got "
                    f"format code {code} — use decode_wav for PCM"
                )
            if bits != 8:
                raise ValueError(f"G.711 samples are 8-bit, got {bits}")
            if block_align != channels or byte_rate != rate * channels:
                raise ValueError(
                    f"inconsistent G.711 fmt chunk: block_align "
                    f"{block_align} / byte_rate {byte_rate} vs "
                    f"{channels}ch @ {rate}Hz"
                )
            fmt = {"code": code, "channels": channels, "sample_rate": rate}
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk precedes fmt chunk")
            raw = payload[data_start : data_start + size]
            if size % fmt["channels"]:
                raise ValueError(
                    f"G.711 data chunk ({size} bytes) is not a whole "
                    f"number of {fmt['channels']}-byte frames"
                )
            expand = alaw_to_linear if fmt["code"] == 6 else mulaw_to_linear
            n_frames = size // fmt["channels"]
            return {
                "pcm": raw,
                "law": "alaw" if fmt["code"] == 6 else "ulaw",
                "sample_rate": fmt["sample_rate"],
                "channels": fmt["channels"],
                "bits_per_sample": 8,
                "n_frames": n_frames,
                "duration_us": n_frames * 1_000_000 // fmt["sample_rate"],
                "linear": [expand(b) for b in raw],
            }
        pos = data_start + size + (size % 2)
    raise ValueError("WAV container has no data chunk")


def encode_g711(
    codes: bytes, *, law: str, sample_rate: int = 8000, channels: int = 1
) -> bytes:
    """Wrap already-companded G.711 code bytes in a canonical WAV
    container (format code 6 for A-law, 7 for mu-law)."""
    if law not in ("alaw", "ulaw"):
        raise ValueError(f"law must be 'alaw' or 'ulaw', got {law!r}")
    if len(codes) % channels:
        raise ValueError(
            f"{len(codes)} code bytes is not a whole number of "
            f"{channels}-byte frames"
        )
    fmt = struct.pack(
        "<HHIIHH",
        6 if law == "alaw" else 7,
        channels,
        sample_rate,
        sample_rate * channels,
        channels,
        8,
    )
    body = b"WAVE" + _chunk(b"fmt ", fmt) + _chunk(b"data", codes)
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# IMA (DVI4) ADPCM — WAV format code 0x11: the compressed-audio leg of
# the codec tier (r15).  Public algorithm: IMA Digital Audio Pack
# "Recommended Practices for Enhancing Digital Audio Compatibility"
# (1992), the same tables RFC 3551 §4.5.1 (DVI4) carries.
# ---------------------------------------------------------------------------

_IMA_INDEX_ADJUST = (-1, -1, -1, -1, 2, 4, 6, 8)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767,
)


def _ima_step(pred: int, index: int, nib: int) -> tuple[int, int]:
    """One IMA ADPCM state transition: the bit-shift accumulation form
    the WAV variant uses (diff = step/8 + per-bit step/4, step/2,
    step), predictor clamped to int16, step index clamped to the
    table."""
    step = _IMA_STEPS[index]
    diff = step >> 3
    if nib & 1:
        diff += step >> 2
    if nib & 2:
        diff += step >> 1
    if nib & 4:
        diff += step
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    index = max(0, min(88, index + _IMA_INDEX_ADJUST[nib & 7]))
    return pred, index


def decode_adpcm(payload: bytes) -> dict:
    """From-scratch decode of an IMA ADPCM WAV container (format code
    0x11) to 16-bit linear samples — the block structure is the MS WAV
    form: per block, a 4-byte state header PER CHANNEL (int16
    predictor — which IS sample 0 — uint8 step index, reserved byte),
    then 4-byte nibble words interleaved channel-major (8 samples per
    word, low nibble first).  The fmt extension's wSamplesPerBlock
    must agree with the block_align geometry; a ``fact`` chunk (the
    spec's true-sample-count record) trims the final block's padding
    nibbles.  Truncated blocks, out-of-range step indices, and
    geometry lies are loud errors."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {payload[:4]!r}/{payload[8:12]!r})"
        )
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError(
            f"truncated RIFF container: header claims {riff_size + 8} "
            f"bytes, have {len(payload)}"
        )
    fmt = None
    fact_frames = None
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        data_start = pos + 8
        if data_start + size > len(payload):
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if size < 20:
                raise ValueError(
                    f"IMA ADPCM fmt chunk too short: {size} bytes (needs "
                    "the cbSize + wSamplesPerBlock extension)"
                )
            code, channels, rate, byte_rate, block_align, bits = (
                struct.unpack_from("<HHIIHH", payload, data_start)
            )
            if code != 0x11:
                raise ValueError(
                    f"decode_adpcm expects IMA ADPCM (0x11), got format "
                    f"code 0x{code:04x}"
                )
            if bits != 4:
                raise ValueError(f"IMA ADPCM is 4-bit, fmt claims {bits}")
            if channels < 1:
                raise ValueError(f"WAV channel count {channels} invalid")
            if rate < 1:
                raise ValueError(f"WAV sample rate {rate} invalid")
            cb, spb = struct.unpack_from("<HH", payload, data_start + 16)
            if cb < 2:
                raise ValueError(
                    f"IMA ADPCM fmt cbSize {cb} too small for "
                    "wSamplesPerBlock"
                )
            if block_align < 4 * channels or block_align % (4 * channels):
                raise ValueError(
                    f"IMA ADPCM block_align {block_align} is not a "
                    f"whole number of 4-byte words per channel "
                    f"({channels}ch)"
                )
            expect_spb = (block_align - 4 * channels) * 2 // channels + 1
            if spb != expect_spb:
                raise ValueError(
                    f"IMA ADPCM wSamplesPerBlock {spb} disagrees with "
                    f"block_align {block_align} ({channels}ch ⇒ "
                    f"{expect_spb})"
                )
            fmt = {
                "channels": channels,
                "sample_rate": rate,
                "block_align": block_align,
                "samples_per_block": spb,
            }
        elif tag == b"fact":
            if size < 4:
                raise ValueError(f"WAV fact chunk too short: {size} bytes")
            fact_frames = struct.unpack_from("<I", payload, data_start)[0]
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk precedes fmt chunk")
            raw = payload[data_start : data_start + size]
            ch = fmt["channels"]
            ba, spb = fmt["block_align"], fmt["samples_per_block"]
            if size % ba:
                raise ValueError(
                    f"IMA ADPCM data chunk ({size} bytes) is not a "
                    f"whole number of {ba}-byte blocks"
                )
            frames: list[tuple[int, ...]] = []
            for b0 in range(0, size, ba):
                preds, idxs = [], []
                for c in range(ch):
                    # byte 4 is reserved — carried, never validated
                    p, ix, _ = struct.unpack_from(
                        "<hBB", raw, b0 + 4 * c
                    )
                    if ix > 88:
                        raise ValueError(
                            f"IMA ADPCM block header step index {ix} out "
                            "of table range (0..88)"
                        )
                    preds.append(p)
                    idxs.append(ix)
                block = [[p] for p in preds]  # header = sample 0
                # nibble words: channel-major interleave, 8 samples per
                # 4-byte word, low nibble first
                wpos = b0 + 4 * ch
                while wpos < b0 + ba:
                    for c in range(ch):
                        for byte in raw[wpos + 4 * c : wpos + 4 * c + 4]:
                            for nib in (byte & 0x0F, byte >> 4):
                                preds[c], idxs[c] = _ima_step(
                                    preds[c], idxs[c], nib
                                )
                                block[c].append(preds[c])
                    wpos += 4 * ch
                # the geometry check pins len(block[c]) == spb exactly
                for j in range(spb):
                    frames.append(tuple(block[c][j] for c in range(ch)))
            n_frames = len(frames)
            if fact_frames is not None:
                n_blocks = size // ba
                if not (
                    max(0, n_frames - spb) < fact_frames <= n_frames
                    if n_blocks
                    else fact_frames == 0
                ):
                    raise ValueError(
                        f"WAV fact chunk claims {fact_frames} frames but "
                        f"{n_blocks} blocks decode {n_frames}"
                    )
                frames = frames[:fact_frames]
                n_frames = fact_frames
            pcm = b"".join(
                struct.pack(f"<{ch}h", *f) for f in frames
            )
            return {
                "pcm": pcm,
                "sample_rate": fmt["sample_rate"],
                "channels": ch,
                "bits_per_sample": 16,
                "sample_format": "int",
                "n_frames": n_frames,
                "duration_us": n_frames * 1_000_000
                // fmt["sample_rate"],
                "linear": frames,
            }
        pos = data_start + size + (size % 2)
    raise ValueError("WAV container has no data chunk")


def encode_adpcm(
    samples: list[tuple[int, ...]],
    *,
    sample_rate: int = 8000,
    samples_per_block: int = 9,
) -> bytes:
    """IMA ADPCM encoder (the standard greedy quantizer, state updated
    through the DECODER's own transition so encoder and decoder
    reconstructions track bit-exactly): frames → a canonical format-
    0x11 container with the fact chunk recording the true count.
    Exists for round-trip tests and as the synthesis seam; lossy by
    nature, deterministic by construction."""
    if not samples:
        raise ValueError("encode_adpcm: empty sample list")
    ch = len(samples[0])
    if any(len(f) != ch for f in samples):
        raise ValueError("encode_adpcm: ragged frames")
    if (samples_per_block - 1) % 8:
        raise ValueError(
            f"encode_adpcm: samples_per_block {samples_per_block} must "
            "be 1 + a multiple of 8 (whole 4-byte words per channel)"
        )
    ba = 4 * ch + (samples_per_block - 1) * ch // 2
    blocks = bytearray()
    idxs = [0] * ch
    for b0 in range(0, len(samples), samples_per_block):
        blk = samples[b0 : b0 + samples_per_block]
        # pad the final block by repeating its last frame
        blk = blk + [blk[-1]] * (samples_per_block - len(blk))
        preds = list(blk[0])
        for c in range(ch):
            blocks += struct.pack("<hBB", preds[c], idxs[c], 0)
        nibs: list[list[int]] = [[] for _ in range(ch)]
        for frame in blk[1:]:
            for c in range(ch):
                step = _IMA_STEPS[idxs[c]]
                diff = frame[c] - preds[c]
                nib = 8 if diff < 0 else 0
                diff = abs(diff)
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                preds[c], idxs[c] = _ima_step(preds[c], idxs[c], nib)
                nibs[c].append(nib)
        for w0 in range(0, len(nibs[0]), 8):
            for c in range(ch):
                for k in range(w0, w0 + 8, 2):
                    blocks.append(nibs[c][k] | (nibs[c][k + 1] << 4))
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, ch, sample_rate,
        sample_rate * ba // samples_per_block, ba, 4, 2,
        samples_per_block,
    )
    body = (
        b"WAVE" + _chunk(b"fmt ", fmt)
        + _chunk(b"fact", struct.pack("<I", len(samples)))
        + _chunk(b"data", bytes(blocks))
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# MS ADPCM — WAV format code 0x02 (r15): the OTHER 4-bit block codec,
# with per-block linear predictors and an adaptive delta.  Public
# algorithm: the Microsoft WAVE extended-format documentation (the
# ADPCMWAVEFORMAT / ADPCMCOEFSET structures and decode recurrence).
# ---------------------------------------------------------------------------

#: the standard 7 predictor coefficient pairs (coef1, coef2), /256 fixed-point
MS_ADPCM_COEFS = (
    (256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
    (460, -208), (392, -232),
)
_MS_ADAPT = (
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230,
)


def _trunc256(q: int) -> int:
    """C-semantics ``q / 256``: truncate toward zero."""
    return -(-q >> 8) if q < 0 else q >> 8


def _ms_step(s1: int, s2: int, idelta: int, coefs: tuple, nib: int):
    """One MS ADPCM transition: linear prediction from the last two
    samples, signed-nibble scaled correction, int16 clamp, and the
    table-adapted delta (floored at 16).  The prediction's ``/256`` is
    C integer division — TRUNCATION toward zero, not Python's floored
    ``>>`` — or negative predictor sums drift 1 LSB from interoperable
    decoders (ffmpeg/libsndfile) and then diverge within the block."""
    signed = nib - 16 if nib & 8 else nib
    pred = _trunc256(s1 * coefs[0] + s2 * coefs[1])
    pred += signed * idelta
    pred = max(-32768, min(32767, pred))
    idelta = max(16, (_MS_ADAPT[nib] * idelta) >> 8)
    return pred, s1, idelta


def decode_ms_adpcm(payload: bytes) -> dict:
    """From-scratch decode of an MS ADPCM WAV container (format code
    0x02) to 16-bit linear samples.  Block layout (channel-interleaved
    headers): 1 predictor-index byte per channel (selects from the fmt
    extension's coefficient table), int16 iDelta per channel, int16
    sample1 then int16 sample2 per channel — the two header samples
    ARE the first two output frames (sample2 is the OLDER one and
    emits first) — then 4-bit nibbles HIGH-FIRST, alternating channels
    sample-by-sample.  The fmt extension's coefficient table and
    wSamplesPerBlock are validated against the block geometry; a
    ``fact`` chunk trims final-block padding.  Out-of-range predictor
    indices, torn blocks, and geometry lies are loud errors."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(
            f"not a RIFF/WAVE payload (magic {payload[:4]!r}/{payload[8:12]!r})"
        )
    riff_size = struct.unpack_from("<I", payload, 4)[0]
    if riff_size + 8 > len(payload):
        raise ValueError(
            f"truncated RIFF container: header claims {riff_size + 8} "
            f"bytes, have {len(payload)}"
        )
    fmt = None
    fact_frames = None
    pos = 12
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        data_start = pos + 8
        if data_start + size > len(payload):
            raise ValueError(f"truncated {tag!r} chunk")
        if tag == b"fmt ":
            if size < 22:
                raise ValueError(
                    f"MS ADPCM fmt chunk too short: {size} bytes (needs "
                    "cbSize + wSamplesPerBlock + wNumCoef + coef table)"
                )
            code, channels, rate, byte_rate, block_align, bits = (
                struct.unpack_from("<HHIIHH", payload, data_start)
            )
            if code != 0x02:
                raise ValueError(
                    f"decode_ms_adpcm expects MS ADPCM (0x02), got "
                    f"format code 0x{code:04x}"
                )
            if bits != 4:
                raise ValueError(f"MS ADPCM is 4-bit, fmt claims {bits}")
            if channels < 1:
                raise ValueError(f"WAV channel count {channels} invalid")
            if rate < 1:
                raise ValueError(f"WAV sample rate {rate} invalid")
            cb, spb, ncoef = struct.unpack_from(
                "<HHH", payload, data_start + 16
            )
            if cb < 4 + 4 * ncoef or size < 22 + 4 * ncoef:
                raise ValueError(
                    f"MS ADPCM fmt extension truncated: cbSize {cb}, "
                    f"{ncoef} coefficient pairs"
                )
            if ncoef < 1:
                raise ValueError("MS ADPCM coefficient table is empty")
            coefs = [
                struct.unpack_from("<hh", payload, data_start + 22 + 4 * i)
                for i in range(ncoef)
            ]
            hdr = 7 * channels
            if block_align <= hdr:
                raise ValueError(
                    f"MS ADPCM block_align {block_align} cannot hold the "
                    f"{hdr}-byte block header ({channels}ch)"
                )
            expect_spb = (block_align - hdr) * 2 // channels + 2
            if spb != expect_spb:
                raise ValueError(
                    f"MS ADPCM wSamplesPerBlock {spb} disagrees with "
                    f"block_align {block_align} ({channels}ch ⇒ "
                    f"{expect_spb})"
                )
            fmt = {
                "channels": channels,
                "sample_rate": rate,
                "block_align": block_align,
                "samples_per_block": spb,
                "coefs": coefs,
            }
        elif tag == b"fact":
            if size < 4:
                raise ValueError(f"WAV fact chunk too short: {size} bytes")
            fact_frames = struct.unpack_from("<I", payload, data_start)[0]
        elif tag == b"data":
            if fmt is None:
                raise ValueError("WAV data chunk precedes fmt chunk")
            raw = payload[data_start : data_start + size]
            ch = fmt["channels"]
            ba, spb = fmt["block_align"], fmt["samples_per_block"]
            if size % ba:
                raise ValueError(
                    f"MS ADPCM data chunk ({size} bytes) is not a whole "
                    f"number of {ba}-byte blocks"
                )
            frames: list[tuple[int, ...]] = []
            for b0 in range(0, size, ba):
                cfs, ideltas, s1s, s2s = [], [], [], []
                for c in range(ch):
                    pi = raw[b0 + c]
                    if pi >= len(fmt["coefs"]):
                        raise ValueError(
                            f"MS ADPCM predictor index {pi} out of range "
                            f"for a {len(fmt['coefs'])}-entry table"
                        )
                    cfs.append(fmt["coefs"][pi])
                base = b0 + ch
                for c in range(ch):
                    ideltas.append(
                        struct.unpack_from("<h", raw, base + 2 * c)[0]
                    )
                base += 2 * ch
                for c in range(ch):
                    s1s.append(
                        struct.unpack_from("<h", raw, base + 2 * c)[0]
                    )
                base += 2 * ch
                for c in range(ch):
                    s2s.append(
                        struct.unpack_from("<h", raw, base + 2 * c)[0]
                    )
                base += 2 * ch
                block = [[s2s[c], s1s[c]] for c in range(ch)]
                nibs = []
                for byte in raw[base : b0 + ba]:
                    nibs.append(byte >> 4)    # HIGH nibble first
                    nibs.append(byte & 0x0F)
                for j, nib in enumerate(nibs):
                    c = j % ch
                    s1s[c], s2s[c], ideltas[c] = _ms_step(
                        s1s[c], s2s[c], ideltas[c], cfs[c], nib
                    )
                    block[c].append(s1s[c])
                for j in range(spb):
                    frames.append(tuple(block[c][j] for c in range(ch)))
            n_frames = len(frames)
            if fact_frames is not None:
                n_blocks = size // ba
                if not (
                    max(0, n_frames - spb) < fact_frames <= n_frames
                    if n_blocks
                    else fact_frames == 0
                ):
                    raise ValueError(
                        f"WAV fact chunk claims {fact_frames} frames but "
                        f"{n_blocks} blocks decode {n_frames}"
                    )
                frames = frames[:fact_frames]
                n_frames = fact_frames
            pcm = b"".join(struct.pack(f"<{ch}h", *f) for f in frames)
            return {
                "pcm": pcm,
                "sample_rate": fmt["sample_rate"],
                "channels": ch,
                "bits_per_sample": 16,
                "sample_format": "int",
                "n_frames": n_frames,
                "duration_us": n_frames * 1_000_000
                // fmt["sample_rate"],
                "linear": frames,
            }
        pos = data_start + size + (size % 2)
    raise ValueError("WAV container has no data chunk")


def encode_ms_adpcm(
    samples: list[tuple[int, ...]],
    *,
    sample_rate: int = 8000,
    samples_per_block: int = 10,
    predictor: int = 0,
) -> bytes:
    """MS ADPCM encoder (greedy quantizer, state tracked through the
    DECODER's own transition): frames → a canonical format-0x02
    container with the standard 7-entry coefficient table and a fact
    chunk.  Exists for round-trip tests; lossy, deterministic."""
    if not samples:
        raise ValueError("encode_ms_adpcm: empty sample list")
    ch = len(samples[0])
    if any(len(f) != ch for f in samples):
        raise ValueError("encode_ms_adpcm: ragged frames")
    if samples_per_block < 3 or (samples_per_block - 2) * ch % 2:
        raise ValueError(
            f"encode_ms_adpcm: samples_per_block {samples_per_block} "
            "must be >= 3 with whole nibble bytes per block"
        )
    if not 0 <= predictor < len(MS_ADPCM_COEFS):
        raise ValueError(f"predictor index {predictor} out of range")
    cf = MS_ADPCM_COEFS[predictor]
    ba = 7 * ch + (samples_per_block - 2) * ch // 2
    blocks = bytearray()
    for b0 in range(0, len(samples), samples_per_block):
        blk = samples[b0 : b0 + samples_per_block]
        blk = blk + [blk[-1]] * (samples_per_block - len(blk))
        s2s = [blk[0][c] for c in range(ch)]
        s1s = [blk[1][c] for c in range(ch)]
        ideltas = [max(16, abs(blk[2][c] - blk[1][c]) // 4 or 16)
                   for c in range(ch)]
        blocks += bytes([predictor] * ch)
        for arr in (ideltas, s1s, s2s):
            for c in range(ch):
                blocks += struct.pack("<h", arr[c])
        nibs: list[int] = []
        for frame in blk[2:]:
            for c in range(ch):
                pred = _trunc256(s1s[c] * cf[0] + s2s[c] * cf[1])
                want = frame[c] - pred
                signed = max(-8, min(7, int(round(want / ideltas[c]))))
                nib = signed & 0x0F
                s1s[c], s2s[c], ideltas[c] = _ms_step(
                    s1s[c], s2s[c], ideltas[c], cf, nib
                )
                nibs.append(nib)
        for k in range(0, len(nibs), 2):
            blocks.append((nibs[k] << 4) | nibs[k + 1])
    fmt = struct.pack(
        "<HHIIHHHHH", 0x02, ch, sample_rate,
        sample_rate * ba // samples_per_block, ba, 4,
        4 + 4 * len(MS_ADPCM_COEFS), samples_per_block,
        len(MS_ADPCM_COEFS),
    ) + b"".join(struct.pack("<hh", *c) for c in MS_ADPCM_COEFS)
    body = (
        b"WAVE" + _chunk(b"fmt ", fmt)
        + _chunk(b"fact", struct.pack("<I", len(samples)))
        + _chunk(b"data", bytes(blocks))
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


G711_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("idx", LongType()),
        StructField("linear", LongType()),
    ]
)


def g711_samples(media: DataFrame) -> DataFrame:
    """Arrow-batched G.711 expansion: one row per code byte with its
    16-bit linear value — every sample individually value-judged (the
    oracle replays the ITU arithmetic in SQL), so a wrong complement,
    segment shift, or sign branch fails on the exact byte that
    triggers it."""

    def rows(doc_id, payload):
        linear = decode_g711(payload)["linear"]
        return [(doc_id, i, v) for i, v in enumerate(linear)]

    return map_rows(media, ["doc_id", "content"], G711_SCHEMA, rows)


def wav_samples(decoded: dict) -> list[tuple]:
    """Decoded PCM bytes → per-frame sample tuples (one value per
    channel), honoring every width the decoder admits: 8-bit unsigned,
    16/24/32-bit signed LE (24-bit frames are the 3-byte packed form —
    sign-extended here), and 32/64-bit IEEE float."""
    ch = decoded["channels"]
    pcm, bits = decoded["pcm"], decoded["bits_per_sample"]
    if decoded["sample_format"] == "float":
        fmt = "f" if bits == 32 else "d"
        n = len(pcm) // (bits // 8)
        vals = list(struct.unpack(f"<{n}{fmt}", pcm))
    elif bits == 8:
        vals = list(pcm)
    elif bits == 16:
        vals = list(struct.unpack(f"<{len(pcm) // 2}h", pcm))
    elif bits == 24:
        vals = [
            int.from_bytes(pcm[i : i + 3], "little", signed=True)
            for i in range(0, len(pcm), 3)
        ]
    else:  # 32-bit int
        vals = list(struct.unpack(f"<{len(pcm) // 4}i", pcm))
    return [tuple(vals[i : i + ch]) for i in range(0, len(vals), ch)]


PCM_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", StringType()),
    ]
)

AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("sample_rate", LongType()),
        StructField("duration_us", LongType()),
        StructField("peak", LongType()),
        StructField("amp_sum", LongType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_no", LongType()),
        StructField("ch0", LongType()),
        StructField("ch1", LongType()),
    ]
)


def extract_pcm_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL wav decode → (doc_id, n_bytes, checksum):
    length and md5 of the DECODED PCM frame bytes (not the container),
    mirroring the image tier's ``extract_features(fake=False)``
    contract — a wrong chunk-walk offset, a swallowed pad byte, or a
    mis-read data size changes every checksum."""

    def rows(doc_id, payload):
        pcm = decode_wav(payload)["pcm"]
        return [(doc_id, len(pcm), hashlib.md5(pcm).hexdigest())]

    return map_rows(media, ["doc_id", "content"], PCM_FEATURE_SCHEMA, rows)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode → exact-integer audio stats per payload:
    frame count, parsed sample rate, derived duration, peak amplitude,
    amplitude sum (all over the decoded integer samples, so the oracle
    replays them exactly — no float tolerance anywhere)."""

    def rows(doc_id, payload):
        d = decode_wav(payload)
        if d["sample_format"] == "float":
            raise ValueError(
                "extract_audio_features is the exact-integer "
                "stats contract (LongType peak/amp_sum); "
                "IEEE-float payloads need a float-stats "
                "extractor, not a silent cast"
            )
        flat = [v for frame in wav_samples(d) for v in frame]
        return [
            (
                doc_id,
                d["n_frames"],
                d["sample_rate"],
                d["duration_us"],
                # a zero-frame container is VALID audio; its
                # stats are the additive identities, not a
                # worker-killing bare max() error (review r14)
                max(flat) if flat else 0,
                sum(flat),
            )
        ]

    return map_rows(media, ["doc_id", "content"], AUDIO_FEATURE_SCHEMA, rows)


def wav_frames(media: DataFrame) -> DataFrame:
    """Arrow-batched decode of STEREO 16-bit payloads → one row per
    frame (doc_id, frame_no, ch0, ch1) — the 1-row→N-rows audio batch
    shape (frame extraction), with the signed-16-LE sample convention
    on the judged path."""

    def rows(doc_id, payload):
        d = decode_wav(payload)
        if d["channels"] != 2:
            raise ValueError(
                f"wav_frames expects stereo, got {d['channels']}ch"
            )
        return [
            (doc_id, j, c0, c1) for j, (c0, c1) in enumerate(wav_samples(d))
        ]

    return map_rows(media, ["doc_id", "content"], FRAME_SCHEMA, rows)
