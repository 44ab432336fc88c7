"""Structured Streaming tier: the events workloads re-expressed over
``readStream`` (see ``streaming.events``)."""

from .events import read_events_stream, sessionize  # noqa: F401
