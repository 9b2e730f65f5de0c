"""Golden port of a FIFTH real filebeat module pipeline: auditd/log —
the module the generic ``kv`` processor exists for.

Reference: filebeat/module/auditd/log/ingest/pipeline.yml — a 5-pattern
grok (node/type/epoch:sequence prefix, kv span, quoted sub-kv span,
old/new auid-ses tail), TWO kv stages (main span split on ``\\s+``, sub
span split on the ``\\s+(?=[^\\s]+=)`` lookahead so quoted values with
spaces stay whole), the value-cleanup painless script re-expressed as pure
MAP algebra (drop ``?``/``(null)``/empty values; auditd hex-encoding
decoded with the caret control-char convention of go-libaudit; single
quote-layer trim; arch c000003e → x86_64), the fractional UNIX-epoch date,
and the sequence convert.

Scope: the parse/cleanup chain. The ECS record-type mapping table (the
2000-line AUTOGENERATED go-libaudit params block) and the ECS field moves
are declared out of scope — the mechanism they need (per-record_type
lookup → broadcast enrich / selector) is already oracle-pinned elsewhere.

Shape divergence (documented): ES merges kv pairs INTO the auditd.log
object as dynamic per-key fields; a static schema puts them in ONE
``map<string,string>`` column (``auditd.kv``) — the declared Spark-first
re-expression. Values that stay strings in the map (lport, rport, …) are
not per-key converted to long; ``auditd.log.sequence`` (a grok capture)
is.
"""

import datetime as dt

import pytest
from pyspark.sql import Column, functions as F

from beats_spark.event import get_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

AUDITD_DEFS = {
    "IP": r"(?:%{IPV6}|(?:\d{1,3}\.){3}\d{1,3})",
    "IPORHOST": "(?:%{IP}|%{HOSTNAME})",
    # pipeline.yml pattern_definitions, 1:1
    "AUDIT_TYPE": "type=%{NOTSPACE:auditd.log.record_type}",
    "AUDIT_NODE": "node=%{IPORHOST:auditd.log.node} ",
    "AUDIT_PREFIX": "^(?:%{AUDIT_NODE})?%{AUDIT_TYPE} "
                    "msg=audit\\(%{NUMBER:auditd.log.epoch}:"
                    "%{NUMBER:auditd.log.sequence}\\):(%{DATA})?",
    "AUDIT_KEY_VALUES": "%{WORD}=%{GREEDYDATA}",
    "ANY": ".*",
}

AUDITD_PATTERNS = [
    "%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv} "
    "old auid=%{NUMBER:auditd.log.old_auid} "
    "new auid=%{NUMBER:auditd.log.new_auid} "
    "old ses=%{NUMBER:auditd.log.old_ses} "
    "new ses=%{NUMBER:auditd.log.new_ses}",
    "%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv} "
    "msg=['\"]([^=]*\\s)?%{ANY:auditd.log.sub_kv}['\"]",
    "%{AUDIT_PREFIX} %{AUDIT_KEY_VALUES:auditd.log.kv}",
    "%{AUDIT_PREFIX}",
    "%{AUDIT_TYPE} %{AUDIT_KEY_VALUES:auditd.log.kv}",
]

# go-libaudit hex-encodable keys (pipeline.yml possibleHexKeys)
HEX_KEYS = ["exe", "cmd", "data", "path", "comm", "file", "name", "watch",
            "cwd", "acct", "dir", "vm", "ocomm", "grp", "proctitle"]


def _hex_to_ascii(v: Column) -> Column:
    """convertHexToString as column algebra: decode 2-char hex pairs;
    control chars (cp<32, 127) render as '^' + (cp XOR 64); the decode is
    kept only when some byte NEEDED encoding (cp<33, 34, 127) — a plain
    printable hex string like 'deadbeef' stays hex, exactly like the
    painless original."""
    is_hex = v.rlike("^(?:[0-9a-fA-F]{2})+$")
    pairs = F.regexp_extract_all(v, F.lit("(..)"), 1)
    cps = F.transform(pairs, lambda h: F.conv(h, 16, 10).cast("int"))
    decoded = F.aggregate(cps, F.lit(""), lambda acc, cp: F.concat(
        acc,
        F.when((cp < 32) | (cp == 127),
               F.concat(F.lit("^"), F.char(cp.bitwiseXOR(F.lit(64)))))
        .otherwise(F.char(cp))))
    needed = F.exists(cps, lambda cp: (cp < 33) | (cp == 34) | (cp == 127))
    return F.when(is_hex & needed, decoded).otherwise(v)


def _cleanup(df):
    """The painless value-cleanup loop over the kv map, relationally:
    remove ?/(null)/empty values → hex-decode known keys → trim ONE quote
    layer → normalize dashed keys → arch c000003e → x86_64."""
    m = get_path(df, "auditd.kv")
    hex_keys = F.array(*[F.lit(k) for k in HEX_KEYS])
    ent = F.filter(
        F.map_entries(m),
        lambda e: ~e["value"].isin("?", "(null)", ""))
    ent = F.transform(ent, lambda e: F.struct(
        # rename the dashed dialect keys (the two rename processors)
        F.when(e["key"] == "old-auid", "old_auid")
        .when(e["key"] == "old-ses", "old_ses")
        .otherwise(e["key"]).alias("key"),
        F.when(F.array_contains(hex_keys, e["key"]),
               _hex_to_ascii(e["value"])).otherwise(e["value"]).alias("v0")))
    ent = F.transform(ent, lambda e: F.struct(
        e["key"].alias("key"),
        F.regexp_replace(
            F.regexp_replace(e["v0"], "^['\"]", ""), "['\"]$", "")
        .alias("v1")))
    ent = F.transform(ent, lambda e: F.struct(
        e["key"].alias("key"),
        F.when((e["key"] == "arch") & (e["v1"] == "c000003e"), "x86_64")
        .otherwise(e["v1"]).alias("value")))
    return {"auditd.kv": F.when(m.isNotNull(), F.map_from_entries(ent))}


def _merge_kv(df):
    """ES runs both kv stages into the same target object; here the sub-kv
    entries fold onto the main map (main wins on a key collision — the
    deterministic analogue of ES's append)."""
    main = get_path(df, "auditd.kv_main")
    sub = get_path(df, "auditd.kv_sub")
    merged = F.aggregate(
        F.coalesce(F.map_entries(sub),
                   F.array().cast("array<struct<key:string,value:string>>")),
        F.coalesce(main, F.map_from_arrays(
            F.array().cast("array<string>"),
            F.array().cast("array<string>"))),
        lambda acc, e: F.when(F.map_contains_key(acc, e["key"]), acc)
        .otherwise(F.map_concat(acc, F.create_map(e["key"], e["value"]))))
    return {"auditd.kv": F.when(main.isNotNull() | sub.isNotNull(), merged)}


def _epoch_ts(df):
    """date UNIX with fractional seconds (epoch '1485893834.891')."""
    return {"ts": F.timestamp_seconds(
        get_path(df, "auditd.log.epoch").cast("double"))}


def auditd_stages():
    head = build_chain([
        {"grok": {"field": "message", "patterns": AUDITD_PATTERNS,
                  "pattern_definitions": AUDITD_DEFS, "anchor": False,
                  "null_empty_captures": True}},
        {"kv": {"field": "auditd.log.kv", "field_split": r"\s+",
                "value_split": "=", "target": "auditd.kv_main",
                "ignore_missing": True}},
        {"kv": {"field": "auditd.log.sub_kv",
                "field_split": r"\s+(?=[^\s]+=)", "value_split": "=",
                "target": "auditd.kv_sub", "ignore_missing": True}},
        {"rename": {"fields": [{"from": "message", "to": "event.original"}],
                    "ignore_missing": True}},
    ])
    scripts = [FnStage(updates_fn=_merge_kv), FnStage(updates_fn=_cleanup),
               FnStage(updates_fn=_epoch_ts)]
    tail = build_chain([
        {"drop_fields": {"fields": ["auditd.kv_main", "auditd.kv_sub",
                                    "auditd.log.kv", "auditd.log.sub_kv"],
                         "ignore_missing": True}},
        {"convert": {"fields": [{"from": "auditd.log.sequence",
                                 "type": "long"}],
                     "ignore_missing": True}},
        {"add_fields": {"target": "event", "fields": {"kind": "event"}}},
    ])
    return head + scripts + tail


# paraphrased events — same shapes as the module's test.log
LINES = [
    # 0: MAC_IPSEC_EVENT — plain kv (pattern 3)
    "type=MAC_IPSEC_EVENT msg=audit(1485893834.891:18877201): op=SPD-delete "
    "auid=4294967295 ses=4294967295 res=1 src=192.0.2.0 src_prefixlen=24 "
    "dst=198.51.100.0 dst_prefixlen=16",
    # 1: SYSCALL — hex exe (contains spaces when decoded), quoted comm,
    # key=(null) removed, tty=(none) kept
    "type=SYSCALL msg=audit(1485893834.891:18877199): arch=c000003e "
    "syscall=44 success=yes exit=184 a0=9 items=0 pid=1281 uid=0 "
    'tty=(none) ses=4294967295 comm="charon" '
    "exe=2F7573722F6C6962657865632F7374726F6E677377616E2F636861726F6E2028"
    "64656C6574656429 key=(null)",
    # 2: USER_CMD — sub_kv with hex cmd + terminal=? removed (pattern 2)
    "type=USER_CMD msg=audit(1489519256.192:19600329): user pid=4151 "
    "uid=497 auid=700 ses=11988 msg='cwd=\"/\" "
    "cmd=2F7573722F62696E2F757074696D65202D70 terminal=? res=success'",
    # 3: CRYPTO_SESSION — sub_kv with an EMPTY value (mac=) removed
    "type=CRYPTO_SESSION msg=audit(1481077041.515:406): pid=1298 uid=0 "
    "ses=4294967295 msg='op=start cipher=chacha20-poly1305@openssh.com "
    "ksize=512 mac= spid=1299 laddr=203.0.113.2 lport=22  "
    "exe=\"/usr/sbin/sshd\" hostname=? addr=192.0.2.97 terminal=? "
    "res=success'",
    # 4: LOGIN — old/new auid-ses tail (pattern 1)
    "type=LOGIN msg=audit(1489519256.325:19600330): pid=95 uid=0 "
    "subj=kernel old auid=4294967295 new auid=0 old ses=4294967295 "
    "new ses=1",
    # 5: PROCTITLE — hex with a space byte → decoded (pattern 3)
    "type=PROCTITLE msg=audit(1451781471.394:194440): "
    "proctitle=737368643A206275726E205B707269765D",
    # 6: node-prefixed variant (AUDIT_NODE)
    "node=audit-host1 type=SYSCALL msg=audit(1581371984.206:579398): "
    "arch=x86_64 syscall=execve success=yes exit=0 comm=top "
    "exe=/usr/bin/top key=(null)",
    # 7: no msg=audit prefix (pattern 5)
    "type=KERN_MODULE name=mymodule",
    # 8: TTY — data hex with control chars → caret encoding
    "type=TTY msg=audit(1491924063.550:1065565): tty pid=27930 uid=1000 "
    "ses=762 major=136 comm=\"bash\" data=6C730D",
]


def _py_hex_to_ascii(hexs: str) -> str:
    """Independent mini-oracle replicating go-libaudit's caret encoding."""
    out, needed = [], False
    for i in range(0, len(hexs) - 1, 2):
        cp = int(hexs[i:i + 2], 16)
        if cp < 33 or cp == 34 or cp == 127:
            needed = True
        if cp < 32 or cp == 127:
            out.append("^")
            cp ^= 64
        out.append(chr(cp))
    return "".join(out) if needed else hexs


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame([(line,) for line in LINES],
                               "message string")
    out = apply_chain(df, auditd_stages())
    rows = out.collect()
    return out, rows


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur.asDict().get(part) if hasattr(cur, "asDict") else cur[part]
    return cur


def test_plain_kv_event(parsed):
    _, rows = parsed
    r = rows[0]
    assert _g(r, "auditd.log.record_type") == "MAC_IPSEC_EVENT"
    assert _g(r, "auditd.log.sequence") == 18877201
    assert r["ts"] == dt.datetime(2017, 1, 31, 20, 17, 14, 891000)
    assert _g(r, "auditd.kv") == {
        "op": "SPD-delete", "auid": "4294967295", "ses": "4294967295",
        "res": "1", "src": "192.0.2.0", "src_prefixlen": "24",
        "dst": "198.51.100.0", "dst_prefixlen": "16"}
    assert _g(r, "event.original").startswith("type=MAC_IPSEC_EVENT")


def test_syscall_hex_exe_and_null_removal(parsed):
    _, rows = parsed
    kv = _g(rows[1], "auditd.kv")
    assert kv["exe"] == "/usr/libexec/strongswan/charon (deleted)"
    assert kv["comm"] == "charon"          # quotes trimmed
    assert "key" not in kv                 # (null) removed
    assert kv["tty"] == "(none)"           # kept — only ?/(null)/empty drop
    assert kv["arch"] == "x86_64"          # c000003e mapped
    assert kv["a0"] == "9"


def test_user_cmd_sub_kv(parsed):
    _, rows = parsed
    kv = _g(rows[2], "auditd.kv")
    assert kv["pid"] == "4151" and kv["auid"] == "700"   # main span
    assert kv["cwd"] == "/"                              # sub span, trimmed
    assert kv["cmd"] == "/usr/bin/uptime -p"             # hex decoded
    assert kv["res"] == "success"
    assert "terminal" not in kv                          # '?' removed


def test_crypto_session_empty_value_removed(parsed):
    _, rows = parsed
    kv = _g(rows[3], "auditd.kv")
    assert "mac" not in kv                 # 'mac=' empty value removed
    assert kv["cipher"] == "chacha20-poly1305@openssh.com"
    assert kv["exe"] == "/usr/sbin/sshd"   # quoted, not hex
    assert kv["lport"] == "22"
    assert "hostname" not in kv and "terminal" not in kv


def test_login_old_new_tail(parsed):
    _, rows = parsed
    r = rows[4]
    assert _g(r, "auditd.log.old_auid") == "4294967295"
    assert _g(r, "auditd.log.new_auid") == "0"
    assert _g(r, "auditd.log.old_ses") == "4294967295"
    assert _g(r, "auditd.log.new_ses") == "1"
    assert _g(r, "auditd.kv") == {"pid": "95", "uid": "0",
                                  "subj": "kernel"}


def test_proctitle_hex_decode(parsed):
    _, rows = parsed
    assert _g(rows[5], "auditd.kv")["proctitle"] == "sshd: burn [priv]"


def test_node_prefix(parsed):
    _, rows = parsed
    r = rows[6]
    assert _g(r, "auditd.log.node") == "audit-host1"
    kv = _g(r, "auditd.kv")
    assert kv["exe"] == "/usr/bin/top"  # plain-printable hex-shaped? no —
    # '/usr/bin/top' is not hex, passes through untouched
    assert kv["arch"] == "x86_64"  # literal value, not the c000003e map


def test_kern_module_no_prefix(parsed):
    _, rows = parsed
    r = rows[7]
    assert _g(r, "auditd.log.record_type") == "KERN_MODULE"
    assert _g(r, "auditd.log.epoch") is None
    assert r["ts"] is None
    assert _g(r, "auditd.kv") == {"name": "mymodule"}


def test_tty_caret_encoding(parsed):
    _, rows = parsed
    kv = _g(rows[8], "auditd.kv")
    assert kv["data"] == _py_hex_to_ascii("6C730D") == "ls^M"


def test_no_python_in_plan(parsed):
    out, _ = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
