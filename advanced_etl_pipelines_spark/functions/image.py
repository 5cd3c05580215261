"""Format-dispatching image decode over the in-repo pure codecs.

One entry point for the multimodal operators: sniff the magic bytes,
route to ``functions/png.py`` or ``functions/jpeg.py``.  This is the
strict path of operators/multimodal.py:_real_decode, and it needs no
image library.
"""

from __future__ import annotations

import numpy as np

from advanced_etl_pipelines_spark.functions import jpeg as J
from advanced_etl_pipelines_spark.functions import png as P

JPEG_MAGIC = b"\xff\xd8"


def image_format(data: bytes) -> str | None:
    """"png" | "jpeg" | None from magic bytes."""
    if data[: len(P.PNG_MAGIC)] == P.PNG_MAGIC:
        return "png"
    if data[:2] == JPEG_MAGIC:
        return "jpeg"
    return None


def decode_image(data: bytes) -> np.ndarray:
    """Image bytes -> uint8 pixel array ((H,W) or (H,W,3/4)).
    Raises ValueError for unknown formats — strict by design."""
    fmt = image_format(data)
    if fmt == "png":
        return P.decode_png(data)
    if fmt == "jpeg":
        return J.decode_jpeg(data)
    raise ValueError(
        f"unrecognized image magic {bytes(data[:4])!r} "
        "(pure codecs handle PNG and baseline/progressive/"
        "arithmetic/12-bit/lossless JPEG)"
    )

