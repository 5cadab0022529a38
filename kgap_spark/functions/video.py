"""Pure-stdlib+numpy AVI (RIFF) video decoder → sampled-frame
features.

Real decode for the classic web video container: RIFF/AVI with an
MJPEG video stream ('MJPG' — every frame is a standalone baseline
JPEG, decoded by ``jpeg.decode_jpeg``) or uncompressed BI_RGB 24-bit
DIB frames (bottom-up BGR rows, 4-byte-aligned). The chunk walk
handles 'hdrl' (avih + strl/strh/strf), 'movi' with nested 'rec '
groups, and ignores 'idx1'/'JUNK'. Modern codecs (H.264/VP9/AV1…)
get the deterministic stub of ``multimodal._decode_image`` (pyav
slots in at the ``multimodal._decode_video`` seam).

Scale note: frame decode runs inside ``mapInPandas`` Arrow batches
(``multimodal.extract_features``); only ``max_frames`` evenly-spaced
frames are decoded per payload — the 100 TB contract is "sample k
frames per video", never "decode the whole stream".
"""

from __future__ import annotations

import struct

import numpy as np

MAX_AVI_BYTES = 512 * 1024 * 1024
_BI_RGB = 0


def _fourcc(b: bytes) -> str:
    return b.decode("latin-1")


def decode_avi(data: bytes, max_frames: int = 4):
    """RIFF/AVI bytes → ``(width, height, fps, n_frames, frames)``
    with ``frames`` a list of ``(w, h, channels, pixel_bytes)``
    tuples for up to ``max_frames`` evenly-spaced frames of the first
    video stream. Raises ``ValueError`` outside the MJPEG / BI_RGB-24
    subset — callers isolate that per row (NULL features)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    if len(data) > MAX_AVI_BYTES:
        raise ValueError("AVI payload exceeds decoder bound")
    info = {"width": None, "height": None, "usec_per_frame": None,
            "total_frames": None, "handler": None, "compression": None,
            "bits": None, "stream_no": 0, "n_strh": 0}
    raw_frames: list[bytes] = []
    _walk_list(data, 12, len(data), info, raw_frames, in_movi=False)
    if info["compression"] is None:
        raise ValueError("AVI missing video stream format (strf)")
    if not raw_frames:
        raise ValueError("AVI has no video frames in movi")
    n = len(raw_frames)
    idx = sorted({int(i * (n - 1) / max(max_frames - 1, 1))
                  for i in range(min(max_frames, n))})
    decoded = [_decode_frame(raw_frames[i], info) for i in idx]
    fps = (1e6 / info["usec_per_frame"]) if info["usec_per_frame"] else 0.0
    return info["width"], info["height"], fps, n, decoded


def _walk_list(data: bytes, pos: int, end: int, info, frames,
               in_movi: bool) -> None:
    while pos + 8 <= end:
        cid, clen = struct.unpack_from("<4sI", data, pos)
        body_start = pos + 8
        body_end = min(body_start + clen, end)
        pos = body_start + clen + (clen & 1)  # word-aligned
        if cid == b"LIST":
            subtype = data[body_start:body_start + 4]
            _walk_list(
                data, body_start + 4, body_end, info, frames,
                in_movi or subtype in (b"movi", b"rec "),
            )
        elif cid == b"avih" and clen >= 40:
            (usec, _maxbps, _pad, _flags, total, _init, _streams,
             _bufsz, w, h) = struct.unpack_from("<10I", data, body_start)
            info["usec_per_frame"] = usec
            info["total_frames"] = total
            info["width"], info["height"] = w, h
        elif cid == b"strh" and clen >= 16:
            # strl lists appear in stream order; the Nth strh is
            # stream N, and its movi chunks are '{N:02d}dc'/'…db'
            stream_idx = info["n_strh"]
            info["n_strh"] += 1
            fcc_type = data[body_start:body_start + 4]
            if fcc_type == b"vids" and info["handler"] is None:
                info["handler"] = _fourcc(
                    data[body_start + 4:body_start + 8]
                )
                info["stream_no"] = stream_idx
        elif cid == b"strf" and info["handler"] is not None \
                and info["compression"] is None and clen >= 40:
            (_sz, bw, bh, _planes, bits, comp) = struct.unpack_from(
                "<IiiHHI", data, body_start
            )
            info["bits"] = bits
            # biCompression: 0 = BI_RGB; else a fourcc ('MJPG', …)
            info["compression"] = (
                "RGB" if comp == _BI_RGB
                else _fourcc(struct.pack("<I", comp))
            )
            if info["width"] is None:
                info["width"], info["height"] = bw, abs(bh)
        elif in_movi and len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
            # '{NN}dc'/'{NN}db': video frame of stream NN (compressed
            # / DIB) — NN is the vids stream's hdrl ordinal, not
            # always 00 (an audio strl may precede it)
            want = b"%02d" % info["stream_no"]
            if cid[:2] == want and clen > 0:
                frames.append(data[body_start:body_end])


def _decode_frame(raw: bytes, info) -> tuple[int, int, int, bytes]:
    comp = info["compression"]
    if comp in ("MJPG", "mjpg", "jpeg"):
        from kgap_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(raw)
    if comp == "RGB" and info["bits"] == 24:
        w, h = info["width"], info["height"]
        stride = (w * 3 + 3) & ~3  # rows 4-byte aligned
        if len(raw) < stride * h:
            raise ValueError("AVI DIB frame truncated")
        arr = np.frombuffer(raw[:stride * h], dtype=np.uint8)
        arr = arr.reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
        # DIB is bottom-up BGR → top-down RGB
        rgb = arr[::-1, :, ::-1]
        return w, h, 3, rgb.tobytes()
    raise ValueError(
        f"unsupported AVI codec {comp!r}/{info['bits']}bpp (MJPEG and "
        "BI_RGB-24 only; modern codecs need pyav — not in this "
        "container)"
    )


def video_features(width: int, height: int, fps: float, n_frames: int,
                   frames, dim: int = 16) -> list[float]:
    """Sampled frames → ``dim`` pooled features, deterministic:
    [w, h (normalized), fps/60, frame count (capped 1e5, log-ish
    normalized), mean luma over samples, luma std across samples
    (temporal activity), then per-sample mean lumas] — the video
    analog of ``multimodal._image_features``'s spatial grid, pooled
    over TIME instead of space."""
    lumas = []
    for (w, h, ch, px) in frames:
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
        arr = arr.astype(np.float64) / 255.0
        if ch >= 3:
            luma = (0.299 * arr[:, :, 0] + 0.587 * arr[:, :, 1]
                    + 0.114 * arr[:, :, 2])
        else:
            luma = arr[:, :, 0]
        lumas.append(float(luma.mean()))
    mean_l = float(np.mean(lumas)) if lumas else 0.0
    std_l = float(np.std(lumas)) if lumas else 0.0
    feats = [
        min(width, 4096) / 4096.0,
        min(height, 4096) / 4096.0,
        min(fps, 60.0) / 60.0,
        min(n_frames, 100000) / 100000.0,
        mean_l,
        std_l,
    ]
    feats.extend(lumas[:dim - len(feats)])
    feats.extend(0.0 for _ in range(dim - len(feats)))
    return feats[:dim]


def encode_avi(frames_payload: list[bytes], width: int, height: int,
               codec: str = "MJPG", fps: int = 10,
               audio_first: bool = False) -> bytes:
    """Test helper: pre-encoded frame payloads (JPEG bytes for MJPG,
    bottom-up BGR DIB rows for 'RGB') → minimal spec-shaped AVI.
    ``audio_first`` places an 'auds' strl before the video strl so
    the video is stream 01 and its movi chunks are '01dc' — the
    layout muxers emit when audio is track 0. Kept in the module so
    fixtures synthesize payloads with one import (same policy as
    ``audio.encode_wav``)."""
    comp = 0 if codec == "RGB" else struct.unpack(
        "<I", codec.encode("latin-1"))[0]
    bits = 24

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    avih = struct.pack(
        "<10I4I", 1_000_000 // fps, 0, 0, 0, len(frames_payload), 0, 1,
        0, width, height, 0, 0, 0, 0,
    )
    strh = (b"vids"
            + (b"MJPG" if codec == "MJPG" else b"\x00" * 4)
            + struct.pack("<IHHiIIIIIIi4h", 0, 0, 0, 0, 0, 1, fps, 0,
                          len(frames_payload), 0, -1, 0, 0, width,
                          height))
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, bits,
                       comp, 0, 0, 0, 0, 0)
    vid_strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    strls, vid_no = vid_strl, 0
    if audio_first:
        aud_strh = (b"auds" + b"\x00" * 4
                    + struct.pack("<IHHiIIIIIIi4h", 0, 0, 0, 0, 0, 1,
                                  8000, 0, 0, 0, -1, 0, 0, 0, 0))
        aud_strf = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        strls = lst(b"strl", chunk(b"strh", aud_strh)
                    + chunk(b"strf", aud_strf)) + vid_strl
        vid_no = 1
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strls)
    movi = lst(b"movi", b"".join(chunk(b"%02ddc" % vid_no, f)
                                 for f in frames_payload))
    inner = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(inner)) + inner
