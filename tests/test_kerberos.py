"""Kerberos stack (RFC 4120/3961/3962/4121/4752) end-to-end: crypto
conformance, mini-KDC AS/TGS exchanges, SASL GSSAPI against the
kerberized mini Kafka broker, and the reference's kerberos e2e confs
UNMODIFIED (KafkaKerberosIT / HiveIT kerberos cases) — keytab +
krb5.conf materialized where the confs' container paths point, via
SEATUNNEL_SPARK_PATH_ALIASES (the volume-mount analog)."""

import json
import os

import pytest

from conftest import reference_path, requires_reference
from seatunnel_spark import krb5 as K
from seatunnel_spark.job.engine import JobEngine
from seatunnel_spark.job.spec import JobSpec
from seatunnel_spark.testing.kdc_server import (
    start_mini_kdc,
    write_krb5_conf,
)

_KAFKA_RES = reference_path("seatunnel-e2e/seatunnel-connector-v2-e2e/"
                            "connector-kafka-e2e/src/test/resources/kerberos")
_HIVE_RES = reference_path("seatunnel-e2e/seatunnel-connector-v2-e2e/"
                           "connector-hive-e2e/src/test/resources")


# ---------------------------------------------------------------------
# crypto conformance (RFC 3961 A.1 n-fold + RFC 3962 B string-to-key)
# ---------------------------------------------------------------------

def test_nfold_rfc3961_vectors():
    vectors = [
        ("012345", 8, "be072631276b1955"),
        ("password", 7, "78a07b6caf85fa"),
        ("Rough Consensus, and Running Code", 8, "bb6ed30870b7f0e0"),
        ("password", 21, "59e4a8ca7c0385c3c37b3f6d2000247cb6e6bd5b3e"),
        ("MASSACHVSETTS INSTITVTE OF TECHNOLOGY", 24,
         "db3b0d8f0b061e603282b308a50841229ad798fab9540c1b"),
        ("Q", 21, "518a54a215a8452a518a54a215a8452a518a54a215"),
        ("ba", 21, "fb25d531ae8974499f52fd92ea9857c4ba24cf297e"),
    ]
    for s, nbytes, want in vectors:
        assert K._nfold(s.encode(), nbytes).hex() == want, s


def test_string_to_key_rfc3962_vectors():
    vectors = [
        (1, "password", "ATHENA.MIT.EDUraeburn",
         "fe697b52bc0d3ce14432ba036a92e65bbb52280990a2fa27883998d72af30161"),
        (2, "password", "ATHENA.MIT.EDUraeburn",
         "a2e16d16b36069c135d5e9d2e25f896102685618b95914b467c67622225824ff"),
        (1200, "password", "ATHENA.MIT.EDUraeburn",
         "55a6ac740ad17b4846941051e1e8b0a7548d93b0ab30a8bc3ff16280382b8c2a"),
        (1200, "X" * 64, "pass phrase equals block size",
         "89adee3608db8bc71f1bfbfe459486b05618b70cbae22092534e56c553ba4b34"),
        (1200, "X" * 65, "pass phrase exceeds block size",
         "d78c5c9cb872a8c9dad4697f0bb5b2d21496c82beb2caeda2112fceea057401b"),
    ]
    for it, pw, salt, want in vectors:
        assert K.string_to_key(pw, salt, iterations=it).hex() == want


def test_encrypt_decrypt_usage_separation():
    key = K.string_to_key("pw", "EXAMPLE.COMuser")
    for n in (0, 1, 15, 16, 17, 31, 32, 100):
        data = bytes(range(200))[:n]
        ct = K.krb_encrypt(key, 3, data)
        assert K.krb_decrypt(key, 3, ct) == data
        with pytest.raises(ValueError):
            K.krb_decrypt(key, 4, ct)


def test_keytab_roundtrip(tmp_path):
    p = str(tmp_path / "t.keytab")
    k1 = os.urandom(32)
    K.write_keytab(p, [("svc/host@REALM.X", 2, k1)])
    assert K.keytab_key(p, "svc/host@REALM.X") == k1
    with pytest.raises(ValueError):
        K.keytab_key(p, "other@REALM.X")


# ---------------------------------------------------------------------
# KDC exchanges + GSS tokens
# ---------------------------------------------------------------------

@pytest.fixture()
def kdc():
    srv, port, stop = start_mini_kdc("EXAMPLE.COM")
    yield srv, port
    stop()


def test_as_tgs_ap_flow(kdc):
    srv, port = kdc
    ckey = srv.add_principal("user@EXAMPLE.COM", "userpw")
    skey = srv.add_principal("kafka/broker@EXAMPLE.COM", "svcpw")
    tgt_session, tgt = K.as_exchange(f"127.0.0.1:{port}",
                                     "user@EXAMPLE.COM", ckey)
    assert tgt.sname == ["krbtgt", "EXAMPLE.COM"]
    session, st = K.tgs_exchange(f"127.0.0.1:{port}", tgt, tgt_session,
                                 "user@EXAMPLE.COM", ["kafka", "broker"])
    assert st.sname == ["kafka", "broker"]
    # the service can decrypt its ticket and sees the same session key
    plain = K.krb_decrypt(skey, 2, st.cipher)
    _, inner = K.der_unwrap(plain, 0x63)
    _, seq = K.der_unwrap(inner)
    f = seq.fields()
    _kt, sess2 = K.dec_key(K.DerView(f[1].bytes_()))
    assert sess2 == session
    # wrong password fails preauth
    bad = K.string_to_key("nope", K.principal_salt("user@EXAMPLE.COM"))
    with pytest.raises(K.KrbError):
        K.as_exchange(f"127.0.0.1:{port}", "user@EXAMPLE.COM", bad)
    assert srv.preauth_failures == 1


def test_gss_wrap_tokens():
    key = os.urandom(32)
    for seal in (True, False):
        tok = K.gss_wrap(key, b"payload-data", initiator=True, seq=7,
                         seal=seal)
        assert K.gss_unwrap(key, tok, initiator_sent=True) == \
            b"payload-data"
    # tampering is detected
    tok = K.gss_wrap(key, b"x" * 20, initiator=False, seal=False)
    bad = tok[:-1] + bytes([tok[-1] ^ 1])
    with pytest.raises(ValueError):
        K.gss_unwrap(key, bad, initiator_sent=False)


# ---------------------------------------------------------------------
# kerberized Kafka: the 3 reference confs UNMODIFIED
# ---------------------------------------------------------------------

@pytest.fixture()
def kerberized_kafka(kdc, tmp_path, monkeypatch):
    from seatunnel_spark.testing.kafka_server import start_mini_kafka

    srv, kdc_port, = kdc
    principal = "kafka/kafkacluster@EXAMPLE.COM"
    key = srv.add_principal(principal, "kafkapw")
    keytab = str(tmp_path / "kafka.keytab")
    krb5conf = str(tmp_path / "krb5.conf")
    K.write_keytab(keytab, [(principal, 1, key)])
    write_krb5_conf(krb5conf, "EXAMPLE.COM", f"127.0.0.1:{kdc_port}")

    broker, kport, kstop = start_mini_kafka()
    broker.enable_gssapi(key)
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_HOST_ALIASES",
        f"kafkacluster=tcp://127.0.0.1:{kport},"
        f"kafkaCluster=tcp://127.0.0.1:{kport}")
    # the confs' container paths -> this test's materialized files
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_PATH_ALIASES",
        f"/etc/krb5.conf={krb5conf},/tmp/kafka.keytab={keytab}")
    yield broker, srv, tmp_path
    kstop()


def test_kafka_sink_kerberos_conf(spark, kerberized_kafka):
    """kafka_sink_fake_to_kafka_kerberos.conf: FakeSource full types ->
    kerberized broker (SASL GSSAPI handshake over the wire, then real
    produce batches)."""
    broker, kdc_srv, _ = kerberized_kafka
    JobEngine(spark).run(JobSpec.from_file(
        f"{_KAFKA_RES}/kafka_sink_fake_to_kafka_kerberos.conf"))
    msgs = [v for (t, p), log in broker.logs.items()
            if t == "test_topic" for (k, v) in log]
    assert len(msgs) == 10
    assert all("c_string" in json.loads(m) for m in msgs)
    assert any("authenticated kafka/kafkacluster" in e
               for e in broker.sasl_events)
    assert any(r.startswith("AS kafka") or "AS [" in r
               for r in kdc_srv.requests)  # real kinit happened
    assert any(r.startswith("TGS") for r in kdc_srv.requests)


def test_kafka_source_kerberos_conf(spark, kerberized_kafka):
    """kafka_source_to_assert_with_kerberos.conf: pre-seeded topic read
    through SASL GSSAPI, json decode, Assert rules pass."""
    broker, _, _ = kerberized_kafka
    # the IT's generateTestData rows through TextSerializationSchema
    # (delimiter ","; complex fields JSON-in-slot), ids 0..99
    for i in range(100):
        line = (f"{i},{json.dumps({'key': 1})},[1],string,false,1,1,1,1,"
                "1.1,1.1,1.1,test,2024-01-02,2024-01-02T03:04:05")
        broker.append("test_topic_with_kerberos", 0,
                      [(None, line.encode())])
    JobEngine(spark).run(JobSpec.from_file(
        f"{_KAFKA_RES}/kafka_source_to_assert_with_kerberos.conf"))
    assert any("authenticated" in e for e in broker.sasl_events)


@requires_reference
def test_kafka_kerberos_wrong_keytab_fails(spark, kerberized_kafka,
                                           tmp_path, monkeypatch):
    """KafkaKerberosIT.testKerberosWithoutPermission analog: a keytab
    with the WRONG key fails the AS exchange and the job."""
    bad = str(tmp_path / "bad.keytab")
    K.write_keytab(bad, [("kafka/kafkacluster@EXAMPLE.COM", 1,
                          os.urandom(32))])
    krb5conf = str(tmp_path / "krb5.conf")
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_PATH_ALIASES",
        f"/etc/krb5.conf={krb5conf},/tmp/kafka.keytab={bad}")
    with pytest.raises(Exception, match="KRB-ERROR|login|auth"):
        JobEngine(spark).run(JobSpec.from_file(
            f"{_KAFKA_RES}/kafka_sink_fake_to_kafka_kerberos.conf"))


def test_kafka_no_kerberos_against_kerberized_broker(spark,
                                                     kerberized_kafka):
    """KafkaKerberosIT.testNotKerberosConfig analog: a plain conf
    against the kerberized broker fails (the broker drops
    unauthenticated data APIs)."""
    broker, _, _ = kerberized_kafka
    with pytest.raises(Exception):
        JobEngine(spark).run(JobSpec.from_file(
            f"{_KAFKA_RES}/kafka_sink_with_not_kerberos.conf"))


# ---------------------------------------------------------------------
# kerberized Hive confs
# ---------------------------------------------------------------------

@pytest.fixture()
def hive_krb(kdc, tmp_path, monkeypatch):
    srv, kdc_port = kdc
    principal = "hive/metastore.seatunnel@EXAMPLE.COM"
    key = srv.add_principal(principal, "hivepw")
    keytab = str(tmp_path / "hive.keytab")
    krb5conf = str(tmp_path / "krb5.conf")
    K.write_keytab(keytab, [(principal, 1, key)])
    write_krb5_conf(krb5conf, "EXAMPLE.COM", f"127.0.0.1:{kdc_port}")
    monkeypatch.setenv(
        "SEATUNNEL_SPARK_PATH_ALIASES",
        f"/tmp/krb5.conf={krb5conf},/tmp/hive.keytab={keytab}")
    yield srv, tmp_path


def test_hive_kerberos_confs(spark, hive_krb):
    """fake_to_hive_with_kerberos.conf + hive_to_assert_with_kerberos:
    a REAL AS exchange (keytab-driven kinit, the
    HiveMetaStoreProxy.loginUserFromKeytab analog) gates the catalog
    write/read; then the write round-trips through the session
    catalog."""
    import shutil

    srv, _ = hive_krb
    spark.sql("DROP TABLE IF EXISTS "
              "default.test_hive_sink_on_hdfs_with_kerberos")
    # a stale location from an earlier aborted run blocks saveAsTable
    shutil.rmtree("/root/repo/spark-warehouse/"
                  "test_hive_sink_on_hdfs_with_kerberos",
                  ignore_errors=True)
    JobEngine(spark).run(JobSpec.from_file(
        f"{_HIVE_RES}/fake_to_hive_with_kerberos.conf"))
    assert any(r.startswith("AS ['hive'") for r in srv.requests)
    JobEngine(spark).run(JobSpec.from_file(
        f"{_HIVE_RES}/hive_to_assert_with_kerberos.conf"))
    rows = spark.table(
        "default.test_hive_sink_on_hdfs_with_kerberos").collect()
    assert len(rows) == 3


@requires_reference
def test_hive_kerberos_bad_keytab_fails(spark, hive_krb, tmp_path,
                                        monkeypatch):
    srv, _ = hive_krb
    bad = str(tmp_path / "bad.keytab")
    K.write_keytab(bad, [("hive/metastore.seatunnel@EXAMPLE.COM", 1,
                          os.urandom(32))])
    aliases = os.environ["SEATUNNEL_SPARK_PATH_ALIASES"].replace(
        str(tmp_path / "hive.keytab"), bad)
    monkeypatch.setenv("SEATUNNEL_SPARK_PATH_ALIASES", aliases)
    with pytest.raises(Exception, match="KRB-ERROR"):
        JobEngine(spark).run(JobSpec.from_file(
            f"{_HIVE_RES}/fake_to_hive_with_kerberos.conf"))


# ---------------------------------------------------------------------
# RocketMQ ACL (HMAC-SHA1 request signing — the AclClientRPCHook)
# ---------------------------------------------------------------------

def test_rocketmq_acl_signing(spark):
    from seatunnel_spark.sources.rocketmq import RocketMqClient
    from seatunnel_spark.testing.rocketmq_server import start_mini_rocketmq

    broker, port, stop = start_mini_rocketmq()
    broker.enable_acl("rocketmq2", "12345678")
    try:
        # unsigned request -> NO_PERMISSION
        cl = RocketMqClient(f"127.0.0.1:{port}")
        with pytest.raises(RuntimeError, match="send failed"):
            cl.send("t_acl", b"nope")
        cl.close()
        assert broker.acl_failures >= 1
        # signed requests pass and round-trip
        cl = RocketMqClient(f"127.0.0.1:{port}", access_key="rocketmq2",
                            secret_key="12345678")
        cl.send("t_acl", b"hello-acl")
        assert cl.max_offset("t_acl") == 1
        msgs = cl.pull("t_acl", 0)
        assert msgs == [b"hello-acl"]
        cl.close()
        # wrong secret -> rejected
        cl = RocketMqClient(f"127.0.0.1:{port}", access_key="rocketmq2",
                            secret_key="wrong")
        with pytest.raises(RuntimeError):
            cl.send("t_acl", b"bad")
        cl.close()
    finally:
        stop()
