"""PII masking function tests."""

from __future__ import annotations

from datawarehousefinal_spark.functions.pii import (
    count_emails,
    count_ipv4,
    scrub_pii,
)


def test_scrub_pii_masks_emails_and_ips(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@test-site.org or 192.168.1.200 please"),
            (2, "no pii here, just version 1.2 of the doc"),
            (3, "two mails x@y.io z@w.co and ip 10.0.0.1"),
        ],
        ["i", "t"],
    )
    out = df.select(
        "i",
        count_emails("t").alias("ne"),
        count_ipv4("t").alias("ni"),
        scrub_pii("t").alias("m"),
    ).collect()
    rows = {r["i"]: r for r in out}
    assert (rows[1]["ne"], rows[1]["ni"]) == (1, 1)
    assert rows[1]["m"] == "mail <EMAIL> or <IP> please"
    assert (rows[2]["ne"], rows[2]["ni"]) == (0, 0)
    # untouched text survives byte-for-byte
    assert rows[2]["m"] == "no pii here, just version 1.2 of the doc"
    assert "1.2" in rows[2]["m"]  # short dotted numbers are not IPs
    assert (rows[3]["ne"], rows[3]["ni"]) == (2, 1)
    assert rows[3]["m"] == "two mails <EMAIL> <EMAIL> and ip <IP>"
