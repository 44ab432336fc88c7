"""Column-function tier: multimodal (binary media) plumbing.

Text/dedup/similarity column logic lives with its workloads
(``workloads.text`` / ``dedup`` / ``similarity``); this package holds
the reusable pieces that aren't tied to a driver fixture query —
currently the multimodal decode/feature pipeline.
"""

from .multimodal import (  # noqa: F401
    MEDIA_SCHEMA,
    decode_media,
    resize_media,
    sample_frames,
    synthesize_media_from_documents,
)
