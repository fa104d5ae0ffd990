"""The reference's only UDF-shaped surface: password hashing and token
sign/verify (bcrypt + JWT, reference src/routes/auth.ts:30,51-55,88,95-99;
src/middleware/auth.ts:22-25).

Implemented as Arrow-batched pandas UDFs over stdlib crypto (PBKDF2-HMAC for
the bcrypt role, HMAC-SHA256 compact tokens for the JWT role) — no external
dependencies, deterministic given (payload, salt/secret), CPU cost amortized
per Arrow batch instead of per row. These never sit on the oracle-checked
path (engine-specific, rows-only checks per SURVEY.md §2.10).
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json

import pandas as pd

from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType

PBKDF2_ITERS = 1000  # bcrypt cost-10 stand-in, scaled down for batch tests


def _hash_one(password: str, salt: str) -> str:
    dk = hashlib.pbkdf2_hmac(
        "sha256", password.encode(), salt.encode(), PBKDF2_ITERS
    )
    return f"pbkdf2${PBKDF2_ITERS}${salt}${dk.hex()}"


@pandas_udf(StringType())
def hash_password(password: pd.Series, salt: pd.Series) -> pd.Series:
    """bcrypt.hash analog (reference src/routes/auth.ts:30)."""
    return pd.Series([_hash_one(p, s) for p, s in zip(password, salt)])


def _verify_one(password: str, hashed: str) -> bool:
    try:
        _, iters, salt, digest = hashed.split("$")
        dk = hashlib.pbkdf2_hmac("sha256", password.encode(), salt.encode(), int(iters))
        return hmac.compare_digest(digest, dk.hex())
    except (ValueError, AttributeError):
        return False


@pandas_udf(BooleanType())
def verify_password(password: pd.Series, hashed: pd.Series) -> pd.Series:
    """bcrypt.compare analog (reference src/routes/auth.ts:88)."""
    return pd.Series([_verify_one(p, h) for p, h in zip(password, hashed)])


def _b64(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).rstrip(b"=").decode()


def _sign_one(user_id: str, secret: str) -> str:
    header = _b64(json.dumps({"alg": "HS256", "typ": "JWT"}).encode())
    payload = _b64(json.dumps({"userId": user_id}).encode())
    sig = _b64(
        hmac.new(secret.encode(), f"{header}.{payload}".encode(), hashlib.sha256).digest()
    )
    return f"{header}.{payload}.{sig}"


@pandas_udf(StringType())
def sign_token(user_id: pd.Series, secret: pd.Series) -> pd.Series:
    """jwt.sign analog (reference src/routes/auth.ts:51-55)."""
    return pd.Series([_sign_one(str(u), s) for u, s in zip(user_id, secret)])


def _authenticate(stored: pd.Series, salt: pd.Series, password: pd.Series,
                  user_id: pd.Series, secret: pd.Series) -> pd.Series:
    """The whole login check in one Python pass (reference
    src/routes/auth.ts:30,88,51-55): derive the stored hash of ``stored``
    with ``salt``, verify ``password`` against it and sign ``user_id``'s
    token with ``secret``; null when the password does not match."""
    return pd.Series([
        _sign_one(str(u), k) if _verify_one(p, _hash_one(sp, s)) else None
        for sp, s, p, u, k in zip(stored, salt, password, user_id, secret)
    ])


# Nondeterministic only so that a filter on its result is not pushed below
# the projection that computes it: that would evaluate it a second time.
authenticate = pandas_udf(_authenticate, StringType()).asNondeterministic()


@pandas_udf(StringType())
def verify_token(token: pd.Series, secret: pd.Series) -> pd.Series:
    """jwt.verify analog (reference src/middleware/auth.ts:22-25): returns
    the authenticated userId, or null for a bad signature/shape."""
    out = []
    for t, s in zip(token, secret):
        try:
            header, payload, sig = t.split(".")
            expect = _b64(
                hmac.new(s.encode(), f"{header}.{payload}".encode(), hashlib.sha256).digest()
            )
            if hmac.compare_digest(sig, expect):
                pad = payload + "=" * (-len(payload) % 4)
                out.append(str(json.loads(base64.urlsafe_b64decode(pad))["userId"]))
            else:
                out.append(None)
        except (ValueError, KeyError, AttributeError):
            out.append(None)
    return pd.Series(out)
