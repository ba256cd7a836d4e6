"""Document-id generation — reference O20/O21/O22 parity.

The reference id is ``{UserId}_{Trigger}_{ULID}_{epochMs}`` with
``NoUserId`` / ``NoTrigger`` fallbacks for null-or-blank fields
(LogChange.cs:80-85). Split children append ``_split{i}`` there
(LogChange.cs:87-92); the tiler here keeps ``parent_id`` and
``split_index`` as columns instead (logstore/tile.py). ULID's property
that matters is time-sortability: the 48-bit millisecond prefix makes ids
order by creation time. The registered ``event_id_generation`` query
builds its ids with ``doc_id``.

Engine-native construction (pure built-in expressions, no UDF):
- the ULID slot keeps time-sortability by construction — the id already
  embeds epoch-ms; for uniqueness we append a content- or row-scoped
  discriminator (md5 of the payload head, or uuid() when true randomness
  is wanted). A Crockford-base32 256-bit-random ULID adds nothing at the
  engine level, so we document the substitution instead of emulating it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

NO_USER = "NoUserId"
NO_TRIGGER = "NoTrigger"


def _blank_safe(col: Column, fallback: str) -> Column:
    """O22: isNot_NullEmptyOrWhiteSpace guard (LogChange.cs:84,91)."""
    return F.when(col.isNotNull() & (F.trim(col) != ""), col).otherwise(
        F.lit(fallback)
    )


def doc_id(
    user_id: Column,
    trigger: Column,
    ts: Column,
    discriminator: Column | None = None,
) -> Column:
    """``{user}_{trigger}_{disc}_{epochMs}`` — time-sortable like the
    reference's ULID-bearing id. ``discriminator`` defaults to uuid()
    (random, like ULID's random tail); pass md5(payload) for
    content-deterministic ids (reproducible pipelines), or a NULL string
    to drop the segment (``concat_ws`` skips NULLs)."""
    disc = discriminator if discriminator is not None else F.uuid()
    return F.concat_ws(
        "_",
        _blank_safe(user_id.cast("string"), NO_USER),
        _blank_safe(trigger, NO_TRIGGER),
        disc,
        F.unix_millis(ts.cast("timestamp")).cast("string"),
    )
