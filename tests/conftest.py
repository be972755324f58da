"""Shared fixtures: one SparkSession per test session + replicated
reference fixture files (FIXTURES.md)."""

from __future__ import annotations

import json
import shutil
import tempfile
import threading
from contextlib import contextmanager
from pathlib import Path

import pytest

from generic_data_ingestor_framework_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    tmp = tempfile.mkdtemp(prefix="sparkwh_")
    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.warehouse.dir": f"{tmp}/warehouse"},
    )
    yield s
    s.stop()
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture
def jvm_commands(monkeypatch):
    """``with jvm_commands() as sent:`` counts in ``sent[0]`` the py4j
    commands the block's thread sends the JVM. py4j releases JVM
    references from a worker thread of its own, whenever Python frees
    them: those commands are not counted."""
    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    @contextmanager
    def counting():
        sent, me = [0], threading.get_ident()

        def counted(self, command, *args, **kwargs):
            sent[0] += threading.get_ident() == me
            return send(self, command, *args, **kwargs)

        monkeypatch.setattr(ClientServerConnection, "send_command", counted)
        try:
            yield sent
        finally:
            monkeypatch.setattr(ClientServerConnection, "send_command", send)

    return counting


@pytest.fixture(scope="session")
def integration_dir(tmp_path_factory) -> Path:
    """The reference's 5-file integration set: golden expectation is
    3 processed files, 4 records, 1 error
    (`tests/integration/test_end_to_end_processing.py:39-42`)."""
    d = tmp_path_factory.mktemp("integration")
    (d / "customers.json").write_text(
        json.dumps(
            [
                {
                    "customer_id": "CUST-001",
                    "name": "John Doe",
                    "email": "john.doe@example.com",
                    "registration_date": "2024-01-15",
                    "status": "active",
                },
                {
                    "customer_id": "CUST-002",
                    "name": "Jane Smith",
                    "email": "jane.smith@example.com",
                    "registration_date": "2024-02-20",
                    "status": "inactive",
                },
            ]
        )
    )
    (d / "orders.json").write_text(
        json.dumps(
            {
                "order_id": "ORD-2024-001",
                "customer_id": "CUST-001",
                "order_date": "2024-03-01",
                "status": "shipped",
                "shipping_address": {
                    "street": "123 Main St",
                    "city": "Springfield",
                    "state": "IL",
                    "zip": "62704",
                    "coordinates": {"latitude": 39.78, "longitude": -89.65},
                },
                "items": [
                    {
                        "product_id": "P-1",
                        "product_name": "Widget",
                        "quantity": 2,
                        "unit_price": 9.99,
                        "total_price": 19.98,
                    }
                ],
                "payment": {
                    "method": "card",
                    "card_last_four": "4242",
                    "transaction_id": "TXN-1",
                },
                "totals": {"subtotal": 19.98, "tax": 1.65, "shipping": 5.0, "total": 26.63},
            }
        )
    )
    (d / "edge_cases.json").write_text(
        json.dumps(
            {
                "id": "edge_001",
                "null_field": None,
                "empty_string": "",
                "zero_number": 0,
                "false_boolean": False,
                "empty_array": [],
                "empty_object": {},
                "unicode_text": "Hello 世界! 🌍",
                "special_chars": "!@#$%^&*()_+-=[]{}|;':\",./<>?",
            }
        )
    )
    (d / "empty.json").write_text("[]")
    (d / "malformed.json").write_text('{"id": 1, "name": "John"')
    return d
