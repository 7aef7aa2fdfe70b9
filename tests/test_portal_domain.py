"""Unit tests for the portal domain layer on the reference's
effective schema — pinning the FIXTURES.md §B edge rows:

- event with zero payments → revenue 0 via COALESCE (ref db.py:362)
- multiple registrations per (user,event) → max registration_id wins
  (ref db.py:394-399)
- multiple payments per registration → latest payment_date wins, with
  a deterministic tiebreak on ties (ref db.py:386-390)
- soft-deleted event excluded from listings (ref db.py:274) but still
  joinable from old registrations
- free event price==0.0 path (ref app.py:242)
- card masking last-4 (ref app.py:303): saved cards are stored
  Fernet-encrypted, listed newest-first per user, and decrypted only
  to be masked (ref db.py:426-433)
- "most recent card" = max card_id, none for a user without cards
  (O4, ref app.py:290,328)
"""

from __future__ import annotations

import hashlib
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from data_warehouse_project_spark import schemas
from data_warehouse_project_spark.functions import crypto
from data_warehouse_project_spark.plans import portal


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def domain(spark):
    users = spark.createDataFrame([
        (1, "Ada", "L", "5551234567", "ada@x.com",
         hashlib.sha256(b"pw123456").hexdigest(), "user"),
        (2, "Root", "A", "5550000000", "admin@x.com", "h", "admin"),
    ], schema=schemas.USERS)
    app_events = spark.createDataFrame([
        # (id, name, desc, date, time_secs, loc, type, organizer, price, active)
        (10, "Gala", "d", ts("2026-09-01T00:00:00"), 3600 * 26, "HQ",
         "party", 2, 50.0, 1),                      # time wraps past 24h
        (11, "Zero", "d", ts("2026-09-02T00:00:00"), 3600 * 9, "HQ",
         "meetup", 2, 25.0, 1),                     # no payments ever
        (12, "Gone", "d", ts("2026-09-03T00:00:00"), 0, "HQ",
         "old", 2, 10.0, 0),                        # soft-deleted
        (13, "Free", "d", ts("2026-09-04T00:00:00"), 0, "HQ",
         "community", 2, 0.0, 1),                   # free event
    ], schema=schemas.APP_EVENTS)
    registrations = spark.createDataFrame([
        (100, 1, 10, "Pending"),
        (101, 1, 10, "Success"),    # re-registration: newest (101) wins
        (102, 1, 12, "Success"),    # registration on soft-deleted event
        (103, 1, 13, "Success"),
    ], schema=schemas.REGISTRATIONS)
    payments = spark.createDataFrame([
        (1000, 1, 101, None, 50.0, "OneTime", "Failed",
         ts("2026-08-01T10:00:00")),
        (1001, 1, 101, None, 50.0, "OneTime", "Success",
         ts("2026-08-01T11:00:00")),   # latest by date → wins
        # tie on payment_date for reg 102: higher payment_id wins
        (1002, 1, 102, None, 10.0, "OneTime", "Failed",
         ts("2026-08-02T09:00:00")),
        (1003, 1, 102, None, 10.0, "OneTime", "Success",
         ts("2026-08-02T09:00:00")),
        (1004, 1, 103, None, 0.0, "Free", "Success",
         ts("2026-08-03T09:00:00")),
    ], schema=schemas.PAYMENTS)
    domain = {"users": users, "app_events": app_events,
              "registrations": registrations, "payments": payments}
    if crypto.HAVE_FERNET:
        key = crypto.Fernet.generate_key()
        plain = spark.createDataFrame([
            # (card_id, user_id, holder, number, cvv, expiry)
            (7, 1, "Ada L", "4111111111111111", "123", "01/29"),
            (9, 1, "Ada L", "5500000000000004", "456", "02/30"),
            (8, 2, "Root A", "340000000000009", "789", "03/31"),
        ], "card_id long, user_id long, card_holder_name string, "
           "card_number string, cvv string, expiry_date string")
        domain["saved_cards"] = plain.select(
            "card_id", "user_id", "card_holder_name",
            crypto.encrypt_col(F.col("card_number"), key)
            .alias("card_number_encrypted"),
            crypto.encrypt_col(F.col("cvv"), key).alias("cvv_encrypted"),
            "expiry_date")
        domain["card_key"] = key
    return domain


def test_authenticate_good_and_bad(domain):
    ok = portal.authenticate(domain["users"], "ada@x.com", "pw123456").collect()
    assert len(ok) == 1 and ok[0]["user_role"] == "user"
    bad = portal.authenticate(domain["users"], "ada@x.com", "wrong").collect()
    assert bad == []


def test_listing_hides_soft_deleted(domain):
    rows = portal.list_active_events(domain["app_events"]).collect()
    ids = [r["id"] for r in rows]
    assert 12 not in ids and ids == sorted(ids, key=lambda i: i)
    assert len(rows) == 3


def test_event_stats_zero_payment_coalesce(domain):
    rows = {r["event_id"]: r for r in portal.event_stats(
        domain["app_events"], domain["registrations"], domain["payments"]
    ).collect()}
    assert rows[11]["registrations"] == 0 and rows[11]["revenue"] == 0.0
    assert rows[10]["registrations"] == 2      # both registrations counted
    assert rows[10]["revenue"] == 50.0         # only Success payments
    assert rows[13]["revenue"] == 0.0          # free event: Success but 0.00
    assert 12 not in rows                      # soft-deleted excluded


def test_my_registrations_keeps_newest_and_latest_status(domain):
    rows = portal.my_registrations(
        domain["registrations"], domain["app_events"], domain["payments"], 1
    ).collect()
    by_reg = {r["registration_id"]: r for r in rows}
    # (user 1, event 10): reg 100 dropped, 101 kept
    assert 100 not in by_reg and 101 in by_reg
    # latest payment by date wins for reg 101
    assert by_reg[101]["payment_status"] == "Success"
    # tie on payment_date → higher payment_id (1003, Success) wins
    assert by_reg[102]["payment_status"] == "Success"
    # soft-deleted event still joinable from its old registration
    assert by_reg[102]["title"] == "Gone"


def test_free_event_predicate(domain):
    free = domain["app_events"].filter(
        portal.free_event_payment(F.col("price"))).collect()
    assert [r["event_id"] for r in free] == [13]


def test_time_wraparound_mod24(spark, domain):
    from data_warehouse_project_spark.functions.scalars import seconds_to_clock
    out = {
        r["event_id"]: r["clock"]
        for r in domain["app_events"].select(
            "event_id", seconds_to_clock(F.col("event_time")).alias("clock")
        ).collect()
    }
    assert out[10] == "02:00"     # 26h wraps to 02:00 (ref app.py:224-228)
    assert out[11] == "09:00"


needs_fernet = pytest.mark.skipif(not crypto.HAVE_FERNET,
                                  reason="cryptography missing")


@needs_fernet
def test_saved_cards_masked_decrypts_filters_and_orders(domain):
    key = domain["card_key"]
    rows = portal.saved_cards_masked(
        domain["saved_cards"], 1,
        lambda c: crypto.decrypt_col(c, key)).collect()
    # user 1's cards only, card_id DESC, decrypted then masked to last 4
    assert [(r["card_id"], r["card_masked"]) for r in rows] == [
        (9, "****0004"), (7, "****1111")]
    assert rows[0]["card_holder_name"] == "Ada L"
    assert rows[0]["expiry_date"] == "02/30"
    assert portal.saved_cards_masked(
        domain["saved_cards"], 3,
        lambda c: crypto.decrypt_col(c, key)).collect() == []


@needs_fernet
def test_latest_card_is_max_card_id(domain):
    cards = domain["saved_cards"]
    assert [r["card_id"] for r in portal.latest_card(cards, 1).collect()] == [9]
    assert [r["card_id"] for r in portal.latest_card(cards, 2).collect()] == [8]
    assert portal.latest_card(cards, 3).collect() == []
