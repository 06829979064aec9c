"""Auth subsystem (SURVEY.md §2.1 S11): request signing, JWT expiry
decode, token cache with refresh + persistence.

All standard public crypto (hmac/hashlib/base64) — parity with the
reference's signing flows (TikTok HMAC path tiktok_shop_extractor.py:
124-160, Shopee shopee_orders_extractor.py:127-153, MISA JWT decode
misa_crm_extractor.py:154-170, token persistence src/utils/auth.py:253-302).
Token persistence reuses the engine's keyed-upsert table.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from ..operators.local_rows import local_rows
from ..operators.upsert import read_upsert_table, upsert


def hmac_sha256_signature(secret: str, base_string: str, hex_digest: bool = True) -> str:
    """HMAC-SHA256 over a canonical request string (the TikTok/Shopee
    signing shape: path + sorted params + body, keyed by app secret)."""
    mac = hmac.new(secret.encode(), base_string.encode(), hashlib.sha256)
    return mac.hexdigest() if hex_digest else base64.b64encode(mac.digest()).decode()


def canonical_base_string(path: str, params: dict, body: str = "") -> str:
    """Sorted-params canonicalization used by both signing flows."""
    parts = [path] + [f"{k}{params[k]}" for k in sorted(params)] + [body]
    return "".join(parts)


def jwt_expiry(token: str) -> int | None:
    """Decode a JWT's payload and return its ``exp`` (no verification —
    expiry probing only, as the reference does)."""
    try:
        payload_b64 = token.split(".")[1]
        payload_b64 += "=" * (-len(payload_b64) % 4)
        payload = json.loads(base64.urlsafe_b64decode(payload_b64))
        return int(payload["exp"])
    except Exception:
        return None


@dataclass
class TokenCache:
    """Refresh-on-expiry token cache with injected refresh + persist hooks
    (at-rest storage = a small keyed-upsert table, one row per platform —
    see TokenStore). Seed ``_state`` from ``TokenStore.load`` to reuse a
    still-valid persisted token across process restarts, exactly like the
    reference loads from api_token_storage before refreshing
    (src/utils/auth.py:253-302)."""

    refresh_fn: Callable[[], dict]  # -> {"access_token": ..., "expires_at": epoch}
    persist_fn: Callable[[dict], None] | None = None
    skew_s: int = 60
    _state: dict = field(default_factory=dict)

    def get(self) -> str:
        exp = self._state.get("expires_at", 0)
        if not self._state or exp - self.skew_s <= time.time():
            self._state = self.refresh_fn()
            if self.persist_fn:
                self.persist_fn(self._state)
        return self._state["access_token"]

    def invalidate(self) -> None:
        """Called by the 401-retry path (PaginatedApiSource.on_auth_error)."""
        self._state = {}


class TokenStore:
    """At-rest token persistence (S11 parity: the reference maintains
    etl_control.api_token_storage via T-SQL MERGE keyed by platform,
    src/utils/auth.py:253-302, refreshed tokens never regressing newer
    ones) — implemented over the engine's own guarded keyed-upsert
    writer: one row per platform, ordered by ``refreshed_at``, so a
    replayed or out-of-order persist is a no-op (ST3 semantics for the
    control plane too)."""

    SCHEMA = ("platform string, access_token string, refresh_token string, "
              "expires_at long, refreshed_at long")
    _FIELDS = ("access_token", "refresh_token", "expires_at", "refreshed_at")

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def persist(self, platform: str, state: dict) -> None:
        row = (platform,
               state.get("access_token"),
               state.get("refresh_token"),
               state.get("expires_at"),
               state.get("refreshed_at", int(time.time())))
        df = local_rows(self.spark, [row], self.SCHEMA)
        upsert(self.spark, df, self.path, keys=["platform"],
               order_col="refreshed_at", num_buckets=1)

    def load(self, platform: str) -> dict | None:
        if not os.path.exists(self.path):
            return None
        rows = (read_upsert_table(self.spark, self.path)
                .filter(F.col("platform") == F.lit(platform)).collect())
        if not rows:
            return None
        r = rows[0].asDict()
        return {k: r[k] for k in self._FIELDS if r.get(k) is not None}

    def persist_fn(self, platform: str) -> Callable[[dict], None]:
        """Adapter for ``TokenCache(persist_fn=...)``."""
        return lambda state: self.persist(platform, state)
