"""Engine configuration.

Replaces the reference's env-var bag (``utils/VariableClass.py:10-96``) and
per-project YAML with one typed dataclass. Notable divergences from the
reference, on purpose:

- ``REMOVE_AFTER_PROCESSED`` is parsed *inverted* in the reference
  (``utils/VariableClass.py:46`` tests ``== "False"``); we do not reproduce
  that config bug — source commit is handled by streaming checkpoints.
- The reference's emission cap / suppression counters
  (``services/harvest_service.py:175,228``) become explicit, documented
  fields here.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class HarvestConfig:
    """Knobs for the harvest-and-curate pipeline.

    Defaults mirror the reference's production .env
    (MAX_NUMBER_OF_PREDICTIONS=100, FRAMES_SKIP_AFTER_DETECT=50,
    CLASSIFICATION_FPS sampling → ``sample_stride``).
    """

    # P9 — per-conversation emission cap (reference: MAX_NUMBER_OF_PREDICTIONS)
    max_pairs_per_conv: int = 100
    # Scope of the emission cap / suppression / min gate / example numbering
    # in the sessionized paths: "conversation" (reference semantics — per
    # video = per conversation, cumulative across its sessions,
    # `/root/reference/services/harvest_service.py:175`) or "session"
    # (each gap-bounded session capped/numbered independently). The
    # non-sessionized flagship `curate()` treats the whole conversation as
    # one session, so both scopes coincide there.
    cap_scope: str = "conversation"
    # conversation-scope streaming only: how long the curate job's cap
    # ledger retains a conversation's (emitted, suppress_until) counters
    # after its last session closed, so a later session continues the
    # count instead of restarting at 0. When min_pairs_per_conv > 1, the
    # ledger's pending pool keeps a gate-failed conversation's un-emitted
    # pairs for the same window so a later session pools toward the gate,
    # exactly as batch pools the whole conversation. Exact batch parity
    # therefore holds — gate-failing conversations included — whenever
    # inter-session event-time gaps stay under this retention; beyond it
    # the stream (by documented design) treats the conversation as
    # finished (streaming/pipeline.py::_cap_with_ledger). The near-dup,
    # boilerplate and training-export ledgers and the SFT, pattern and
    # sequence-pattern state handlers reuse the same retention.
    cap_state_retention: str = "7 days"
    # P10 — post-emission suppression window, in turns
    # (reference: FRAMES_SKIP_AFTER_DETECT)
    suppress_turns_after_emit: int = 0
    # P1 — rate sampling stride (reference: fps / CLASSIFICATION_FPS);
    # 1 = keep every turn
    sample_stride: int = 1
    # P8 — min surviving turns for a conversation to emit anything
    # (reference: MIN_DETECTIONS)
    min_pairs_per_conv: int = 1
    # W1/W2 — session window gap + event-time watermark delay
    session_gap: str = "30 minutes"
    watermark_delay: str = "10 minutes"
    # CEP absence pattern: max event-time wait for a call's tool response
    # before a timeout alert emits (streaming/timeouts.py; batch twin
    # operators/patterns.py::timeout_matches)
    response_timeout: str = "30 minutes"
    # roles considered call/response sides of the correlation (J3)
    call_role: str = "assistant"
    response_role: str = "tool"
    # allowed roles (P2 class allow-list analog); empty = all
    allowed_roles: tuple[str, ...] = ()
    # sink
    sink_path: str = ""
    checkpoint_dir: str = ""
    sink_format: str = "parquet-merge"  # or "iceberg" when jars present

    extra: dict = field(default_factory=dict, hash=False, compare=False)


class ConfigError(ValueError):
    """Raised when a pipeline is built from an inconsistent config."""


def validate_config(cfg: HarvestConfig) -> HarvestConfig:
    """J4 — registration-integrity analog: the reference asserts each
    registered module's name matches the env config before running
    (`/root/reference/services/harvest_service.py:63-82`); here the build
    step asserts the config is self-consistent before a plan is built.

    Every valid config is streaming-exact: conversation-scope cap,
    suppression and min gate ride the curate job's cap ledger
    (streaming/pipeline.py::_cap_with_ledger), the min gate by POOLING
    below-gate pairs in a pending buffer beside it.
    """
    from data_harvesting_spark.streaming.sink import SINKS

    if cfg.max_pairs_per_conv < 0:
        raise ConfigError("max_pairs_per_conv must be >= 0 (0 = uncapped)")
    if 0 < cfg.max_pairs_per_conv < cfg.min_pairs_per_conv:
        raise ConfigError(
            f"min_pairs_per_conv={cfg.min_pairs_per_conv} can never be met "
            f"under max_pairs_per_conv={cfg.max_pairs_per_conv} — every "
            "group would be silently dropped"
        )
    if cfg.cap_scope not in ("conversation", "session"):
        raise ConfigError(
            f"cap_scope must be 'conversation' or 'session', got {cfg.cap_scope!r}"
        )
    if cfg.sample_stride < 1:
        raise ConfigError("sample_stride must be >= 1")
    if cfg.call_role == cfg.response_role:
        raise ConfigError("call_role and response_role must differ")
    if cfg.allowed_roles and not (
        {cfg.call_role, cfg.response_role} <= set(cfg.allowed_roles)
    ):
        raise ConfigError(
            "allowed_roles excludes the correlation roles: nothing could emit"
        )
    if cfg.sink_format and cfg.sink_format not in SINKS:
        raise ConfigError(
            f"unknown sink_format {cfg.sink_format!r}; registered: {sorted(SINKS)}"
        )
    from data_harvesting_spark.operators.curate_sessions import (
        parse_duration_seconds,
    )

    for field_name in (
        "session_gap",
        "watermark_delay",
        "cap_state_retention",
        "response_timeout",
    ):
        val = getattr(cfg, field_name)
        try:
            parse_duration_seconds(val)
        except Exception as exc:
            raise ConfigError(
                f"unparseable duration {field_name}={val!r} "
                f"(want e.g. '30 minutes'): {exc}"
            ) from exc
    return cfg
