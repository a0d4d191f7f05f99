"""Engine configuration.  GeneratorConfig is the producer: the
reference's Config dataclass (phone_message_producer.py:25-67) with its
rate validation (F11, py:64-67), times in milliseconds (the wire unit,
py:406-408).  EngineConfig is the consumer, read from the environment
like the reference's env wiring (S6, py:930-953)."""

from __future__ import annotations

import os
from dataclasses import dataclass


@dataclass(frozen=True)
class GeneratorConfig:
    """Deterministic message-lifecycle generator parameters.

    Defaults follow the reference's Config defaults
    (phone_message_producer.py:42-58): 1000 phones, 85%/10%/5%
    normal/delayed/never split, 30 s normal delivery, 180 s delayed,
    30 s heartbeats.
    """

    n_phones: int = 1000
    n_messages: int = 5000
    seed: str = "42"

    normal_rate: float = 0.85
    delayed_rate: float = 0.10
    never_rate: float = 0.05

    normal_delivery_ms: int = 30_000
    delayed_delivery_ms: int = 180_000
    heartbeat_interval_ms: int = 30_000

    # F9 (message-tracking.json:73-81): 'constant' uses delayed_delivery_ms;
    # 'normal' draws delayed deliveries from N(delayed_mean_ms, delayed_sd_ms)
    # via deterministic Box-Muller over md5 uniforms
    delayed_delay_model: str = "constant"
    delayed_mean_ms: int = 120_000
    delayed_sd_ms: int = 10_000

    # message starts are staggered like the declarative generator's
    # 250 ms stagger (message-tracking.json:12)
    start_ms: int = 1_700_000_000_000
    stagger_ms: int = 250

    # observation horizon relative to the LAST message start; must exceed
    # the detector timeout for end-of-stream timers to be testable
    horizon_after_last_start_ms: int = 600_000

    # at-least-once duplicate injection (py:354-358 acks=all retries)
    duplicate_rate: float = 0.02

    def __post_init__(self) -> None:
        total = self.normal_rate + self.delayed_rate + self.never_rate
        if abs(total - 1.0) > 1e-9:
            raise ValueError(f"delivery rates must sum to 1.0, got {total}")

    @property
    def horizon_ms(self) -> int:
        return self.start_ms + (self.n_messages - 1) * self.stagger_ms + self.horizon_after_last_start_ms


@dataclass(frozen=True)
class EngineConfig:
    """The consumer's settings: where the topic is and how the detector
    times messages out.  The producer's knobs live in GeneratorConfig."""

    bootstrap_url: str = "localhost:9092"
    topic: str = "message_status"  # phone_message_producer.py:36,942
    timeout_s: int = 105
    watermark_delay_s: int = 30


def engine_config_from_env(env: dict[str, str] | None = None) -> EngineConfig:
    """S6 (py:930-953): read EngineConfig from ``BOOTSTRAP_URL``,
    ``TOPIC``, ``DETECTOR_TIMEOUT`` and ``WATERMARK_DELAY`` (``env``, or
    the process environment), falling back to the defaults."""
    e = os.environ if env is None else env
    d = EngineConfig()
    return EngineConfig(
        bootstrap_url=e.get("BOOTSTRAP_URL", d.bootstrap_url),
        topic=e.get("TOPIC", d.topic),
        timeout_s=int(e.get("DETECTOR_TIMEOUT", d.timeout_s)),
        watermark_delay_s=int(e.get("WATERMARK_DELAY", d.watermark_delay_s)),
    )
