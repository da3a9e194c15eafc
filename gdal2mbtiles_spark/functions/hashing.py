"""Content hashing: MD5 tile ids and the signed-64 reinterpretation.

The reference hashes the *raw pre-encode* RGBA buffer with MD5
(utils.py:81-83 ``intmd5``; storages.py:62-64) and stores the low 64
bits reinterpreted as a signed integer as the MBTiles ``tile_id``
primary key (mbtiles.py:512-514: ``unpack('q', pack('Q',
hashed & 0xff..f))``).  We express the same arithmetic as JVM-side
Column expressions so dedup never leaves whole-stage codegen:

    tile_id = to_signed64( int( md5(px)[16:32], 16 ) )

Golden invariants (environment-free, FIXTURES.md §3):
- md5(4 zero bytes)      = f1d3ff8443297732862df21dc4e57262
- md5(262144 zero bytes) = ec87a838931d4d5d2e94a04644788a55
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

TWO63 = 2 ** 63
TWO64 = 2 ** 64

# MD5 of an all-transparent 256x256 RGBA tile: the border tile
# (tests/test_helpers.py:466-481 in the reference suite).
BORDER_TILE_MD5 = "ec87a838931d4d5d2e94a04644788a55"


def intmd5(data: bytes) -> int:
    """MD5 digest as a 128-bit int (reference utils.py:81-83)."""
    return int(hashlib.md5(data).hexdigest(), 16)


def signed_low64(hashed: int) -> int:
    """Low 64 bits of ``hashed``, reinterpreted as signed two's
    complement (reference mbtiles.py:512-514)."""
    low = hashed & (TWO64 - 1)
    return low - TWO64 if low >= TWO63 else low


def tile_id_of_bytes(data: bytes) -> int:
    """Python twin of :func:`tile_id_col` for driver-side constants."""
    return signed_low64(intmd5(data))


BORDER_TILE_ID = signed_low64(int(BORDER_TILE_MD5, 16))


def signed64_from_hex16(hex16: Column) -> Column:
    """Parse 16 hex chars as unsigned 64-bit, reinterpret as signed.

    conv() yields the unsigned decimal as a string; routing through
    Decimal(20,0) keeps the full unsigned range before the two's
    complement wrap.
    """
    unsigned = F.conv(hex16, 16, 10).cast(DecimalType(20, 0))
    # 2^63 / 2^64 exceed the JVM long literal range: route via strings
    two63 = F.lit(str(TWO63)).cast(DecimalType(20, 0))
    two64 = F.lit(str(TWO64)).cast(DecimalType(21, 0))
    return (F.when(unsigned >= two63, unsigned - two64)
            .otherwise(unsigned)).cast("long")


def tile_id_col(px_col) -> Column:
    """MBTiles tile_id for a raw pixel-buffer column: signed low 64 bits
    of the MD5 of the *raw* buffer (never the encoded PNG)."""
    return signed64_from_hex16(F.substring(F.md5(px_col), 17, 16))
