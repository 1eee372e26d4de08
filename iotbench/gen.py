"""Seeded IoT-23 conn.log generator.

Writes CSV files with the 22 columns `graft.iot.IotSchema.raw` declares,
covering every value class of `fixtures/iot_conn.csv`, and returns a
manifest of aggregates computed from the generated values themselves.
The program under test sees only the files.

    python3 iotbench/gen.py <out_dir> <seed> <files> <rows_per_file>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

HEADER = ["uid", "id.orig_h", "id.orig_p", "id.resp_h", "id.resp_p",
          "proto", "service", "duration", "orig_bytes", "resp_bytes",
          "conn_state", "local_orig", "local_resp", "missed_bytes",
          "history", "orig_pkts", "orig_ip_bytes", "resp_pkts",
          "resp_ip_bytes", "tunnel_parents", "label", "detailed-label"]

# (class, share) of the `duration` field. Only the first two parse to a
# value; `-` is the scan's NULL marker, `N days bogus` fails the
# timedelta regexes and contains "days", and an empty field casts to NULL.
DURATION_CLASSES = [("timedelta", 0.52), ("multi_day", 0.06),
                    ("float", 0.26), ("dash", 0.10), ("malformed", 0.03),
                    ("empty", 0.03)]
# local_orig / local_resp: `T` and `F` both coerce to true (the
# reference's lossy presence test); `""` and `-` (NULL) to false.
FLAG_VALUES = [("T", 0.30), ("F", 0.30), ("", 0.25), ("-", 0.15)]
# service: `""` and `-` both end as NULL.
SERVICE_VALUES = [("", 0.15), ("-", 0.20), ("http", 0.15), ("dns", 0.20),
                  ("ssl", 0.12), ("ssh", 0.06), ("dhcp", 0.06),
                  ("ntp", 0.06)]
MALICIOUS_SHARE = 0.6
DETAILED = ["PartOfAHorizontalPortScan", "Okiru", "C&C", "DDoS", "Attack"]
PROTOS = ["tcp", "udp", "icmp"]
STATES = ["SF", "S0", "S1", "REJ", "RSTO", "OTH", "SH"]
HISTORIES = ["ShADadFf", "D", "Dd", "S", "Sr", "ShAdDa", "ShR"]
UID_ALPHABET = np.frombuffer(
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
    dtype=np.uint8)


def _pick(rng, pairs, n):
    """Draws one of `pairs`' values per row; returns (strings, indices)."""
    values = pa.array([v for v, _ in pairs], type=pa.string())
    shares = np.array([s for _, s in pairs])
    idx = rng.choice(len(pairs), size=n, p=shares / shares.sum())
    return values.take(pa.array(idx)), idx


def _str(a, width=0):
    s = pa.array(a).cast(pa.string())
    return pc.utf8_lpad(s, width, padding="0") if width else s


def _cat(*parts):
    return pc.binary_join_element_wise(
        *[p if isinstance(p, (pa.Array, pa.ChunkedArray)) else pa.scalar(p)
          for p in parts], "")


def _choose(rng, options, n):
    return pa.array(options, type=pa.string()).take(
        pa.array(rng.integers(0, len(options), n)))


def _uids(rng, n):
    """Zeek-like `C` + 17 base62 characters, unique, in no sorted order."""
    m = n + n // 100 + 16
    codes = np.empty((m, 18), dtype=np.uint8)
    codes[:, 0] = ord("C")
    codes[:, 1:] = UID_ALPHABET[rng.integers(0, 62, size=(m, 17))]
    uids = np.unique(codes.view("S18").ravel())
    return pa.array(rng.permutation(uids)[:n]).cast(pa.string())


def _ipv4(rng, n, private):
    if private:
        return _cat("192.168.", _str(rng.integers(0, 4, n)), ".",
                    _str(rng.integers(1, 255, n)))
    return _cat(_str(rng.integers(1, 224, n)), ".",
                _str(rng.integers(0, 256, n)), ".",
                _str(rng.integers(0, 256, n)), ".",
                _str(rng.integers(0, 256, n)))


def generate(n, seed):
    """Returns (columns in HEADER order as string arrays, manifest)."""
    rng = np.random.default_rng(seed)
    names = [c for c, _ in DURATION_CLASSES]
    dur_idx = rng.choice(len(names), size=n,
                         p=np.array([s for _, s in DURATION_CLASSES]))

    def cls(name):
        return dur_idx == names.index(name)

    secs = rng.integers(0, 86400, n)
    days = np.where(cls("multi_day"), rng.integers(1, 40, n), 0)
    timedelta = _cat(_str(days), " days ", _str(secs // 3600, 2), ":",
                     _str(secs // 60 % 60, 2), ":", _str(secs % 60, 2), ".",
                     _str(rng.integers(0, 1000000, n), 6))
    # plain seconds with six decimals, as Zeek writes them
    micros = np.rint(rng.exponential(40.0, n) * 1e6).astype(np.int64)
    plain = _cat(_str(micros // 1000000), ".", _str(micros % 1000000, 6))
    bogus = _cat(_str(rng.integers(0, 9, n)), " days bogus")
    duration = timedelta
    for name, value in (("float", plain), ("dash", pa.scalar("-")),
                        ("malformed", bogus), ("empty", pa.scalar(""))):
        duration = pc.if_else(pa.array(cls(name)), value, duration)

    local_orig, lo_idx = _pick(rng, FLAG_VALUES, n)
    local_resp, lr_idx = _pick(rng, FLAG_VALUES, n)
    service, sv_idx = _pick(rng, SERVICE_VALUES, n)
    malicious = rng.random(n) < MALICIOUS_SHARE
    label = pc.if_else(pa.array(malicious), "Malicious", "Benign")
    detailed = pc.if_else(pa.array(malicious),
                          _choose(rng, DETAILED, n), "-")

    ints = {
        "id_orig_p": rng.integers(1024, 65536, n),
        "id_resp_p": rng.choice([22, 53, 80, 123, 443, 546, 5353, 8080], n),
        "orig_bytes": rng.integers(0, 1 << 20, n),
        "resp_bytes": rng.integers(0, 1 << 22, n),
        "missed_bytes": np.where(rng.random(n) < 0.05,
                                 rng.integers(1, 5000, n), 0),
        "orig_pkts": rng.integers(0, 5000, n),
        "orig_ip_bytes": rng.integers(0, 1 << 23, n),
        "resp_pkts": rng.integers(0, 5000, n),
        "resp_ip_bytes": rng.integers(0, 1 << 24, n),
    }
    # Zeek leaves byte counts unset (`-`) on connections with no duration
    byte_unset = cls("dash")
    text = {k: _str(v) for k, v in ints.items()}
    for k in ("orig_bytes", "resp_bytes"):
        text[k] = pc.if_else(pa.array(byte_unset), "-", text[k])

    ipv6 = pa.array(rng.random(n) < 0.02)
    orig_h = pc.if_else(ipv6, "fe80::1", _ipv4(rng, n, True))
    resp_h = pc.if_else(ipv6, "ff02::1:2", _ipv4(rng, n, False))

    cols = [
        _uids(rng, n), orig_h, text["id_orig_p"], resp_h, text["id_resp_p"],
        _choose(rng, PROTOS, n), service, duration, text["orig_bytes"],
        text["resp_bytes"], _choose(rng, STATES, n), local_orig, local_resp,
        text["missed_bytes"], _choose(rng, HISTORIES, n), text["orig_pkts"],
        text["orig_ip_bytes"], text["resp_pkts"], text["resp_ip_bytes"],
        _choose(rng, ["-", "(empty)"], n), label, detailed,
    ]
    true_flag = [i for i, (v, _) in enumerate(FLAG_VALUES) if v in ("T", "F")]
    null_service = [i for i, (v, _) in enumerate(SERVICE_VALUES)
                    if v in ("", "-")]
    sums = {k: int(v.sum()) for k, v in ints.items()}
    for k in ("orig_bytes", "resp_bytes"):
        sums[k] = int(ints[k][~byte_unset].sum())
    manifest = {
        "rows": int(n),
        "null_duration_rows": int(sum(cls(c).sum() for c in
                                      ("dash", "malformed", "empty"))),
        "local_orig_true": int(np.isin(lo_idx, true_flag).sum()),
        "local_resp_true": int(np.isin(lr_idx, true_flag).sum()),
        "null_service_rows": int(np.isin(sv_idx, null_service).sum()),
        "malicious_rows": int(malicious.sum()),
        "sums": sums,
        "duration_classes": {c: int(cls(c).sum()) for c in names},
    }
    return cols, manifest


def write(out_dir, seed, files, rows_per_file):
    """Writes `files` CSV files of `rows_per_file` rows each under
    `out_dir` and returns the manifest (with the bytes written)."""
    os.makedirs(out_dir, exist_ok=True)
    cols, manifest = generate(files * rows_per_file, seed)
    table = pa.table(cols, names=HEADER)
    opts = pacsv.WriteOptions(include_header=False, quoting_style="none")
    total = 0
    for f in range(files):
        path = os.path.join(out_dir, f"conn_{f:05d}.csv")
        with pa.OSFile(path, "wb") as sink:
            sink.write((",".join(HEADER) + "\n").encode())
            pacsv.write_csv(table.slice(f * rows_per_file, rows_per_file),
                            sink, opts)
        total += os.path.getsize(path)
    manifest.update(files=files, csv_bytes=total, seed=seed)
    return manifest


if __name__ == "__main__":
    out, seed, files, rows = sys.argv[1], int(sys.argv[2]), \
        int(sys.argv[3]), int(sys.argv[4])
    print(json.dumps(write(out, seed, files, rows), indent=1))
