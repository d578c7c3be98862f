"""Engine options, mirroring ``/root/reference/src/mopper_options.rs``.

The channel-buffer knob has no Spark analogue (exchanges are shuffles);
retained fields are the semantically meaningful ones plus Spark-side
additions.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class MopperOptions:
    # force every target into one sink (reference: --force-std-out /
    # --force-to-file, lib.rs:81 + plan_rewriter.rs:51)
    force_to_std_out: bool = False
    force_to_file: str | None = None
    # per-sink dedup (reference -d flag, writer_sink.rs:50-63) →
    # dropDuplicates on the statement stream
    deduplicate: bool = False
    # resolve relative source paths against this dir (tests.rs:33-37)
    working_dir_hint: str | None = None
    # named vectorized implementations for FnO calls
    fno_registry: dict = field(default_factory=dict)
    # serialize literal datatype/language annotations ("v"^^<dtype>,
    # "v"@lang).  OFF by default: the reference parses but never applies
    # them (src/function/literal.rs:36-37 TODO, serializer.rs:144-153
    # reserves the '^' terminator), so parity output omits annotations.
    literal_annotations: bool = False
