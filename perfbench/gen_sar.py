"""Seeded sar report generator with ground truth.

Emits host-day reports in the three upload formats the store accepts
(sar ASCII, xz-compressed sar ASCII, ``sadf -j`` JSON) and, for each,
the facts an ingest must reproduce: long-frame row count, section set,
devices per section and count/min/max of every (section, metric).

The seed chooses host names, dates, values and restart positions; the
*shape* of a report (sampling interval and format variant, chosen by the
caller; the device counts below) is not seeded, so two seeds give inputs
of the same size and the same parse cost.
"""

from __future__ import annotations

import json
import lzma
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

# devices of every generated host
CPUS, DISKS, IFACES, FILESYSTEMS = 8, 2, 2, 2

# (section key as the parser names it, device column name or None,
#  metric names, value range, decimals). Every key is a known sysstat
# header (package data/headings.tsv), so pivots need no seed job.
SAR_SECTIONS = (
    ("CPU", ["%user", "%nice", "%system", "%iowait", "%steal", "%idle"], (0, 100), 2),
    (None, ["proc/s", "cswch/s"], (0, 5000), 2),
    (None, ["pgpgin/s", "pgpgout/s", "fault/s", "majflt/s", "pgfree/s",
            "pgscank/s", "pgscand/s", "pgsteal/s", "%vmeff"], (0, 2000), 2),
    (None, ["kbmemfree", "kbmemused", "%memused", "kbbuffers", "kbcached",
            "kbcommit", "%commit", "kbactive", "kbinact", "kbdirty"], (0, 10**7), 0),
    (None, ["runq-sz", "plist-sz", "ldavg-1", "ldavg-5", "ldavg-15",
            "blocked"], (0, 500), 2),
    ("DEV", ["tps", "rkB/s", "wkB/s", "dkB/s", "areq-sz", "aqu-sz", "await",
             "%util"], (0, 900), 2),
    ("IFACE", ["rxpck/s", "txpck/s", "rxkB/s", "txkB/s", "rxcmp/s", "txcmp/s",
               "rxmcst/s", "%ifutil"], (0, 900), 2),
    ("FILESYSTEM", ["MBfsfree", "MBfsused", "%fsused", "%ufsused", "Ifree",
                    "Iused", "%Iused"], (0, 10**5), 2),
)

# sadf -j sections: (json key, device key or None, metrics). ``io`` nests
# its read/write counters one level down, like sysstat does.
SADF_SECTIONS = (
    ("cpu-load", "cpu", ["usr", "nice", "sys", "iowait", "steal", "irq",
                         "soft", "guest", "gnice", "idle"]),
    ("memory", None, ["memfree", "avail", "memused", "memused-percent",
                      "buffers", "cached", "commit", "commit-percent"]),
    ("queue", None, ["runq-sz", "plist-sz", "ldavg-1", "ldavg-5",
                     "ldavg-15", "blocked"]),
    ("io", None, ["tps", "io-reads.rtps", "io-reads.bread",
                  "io-writes.wtps", "io-writes.bwrtn"]),
    ("disk", "disk-device", ["tps", "rkB", "wkB", "dkB", "areq-sz",
                             "aqu-sz", "await", "util-percent"]),
    ("network.net-dev", "iface", ["rxpck", "txpck", "rxkB", "txkB",
                                  "rxcmp", "txcmp", "rxmcst",
                                  "ifutil-percent"]),
)


@dataclass(frozen=True)
class ReportSpec:
    """Shape of one host-day report; the seed fills in the rest."""

    fmt: str  # "sar" | "sar.xz" | "sadf"
    interval_s: int = 600
    ampm: bool = False
    decimal_comma: bool = False
    restart: bool = False


@dataclass
class Truth:
    host: str
    day: str
    rows: int = 0
    sections: set = field(default_factory=set)
    devices: dict = field(default_factory=dict)  # section -> set
    # (section, device, metric) -> [n, lo, hi]
    stats: dict = field(default_factory=dict)
    samples: int = 0  # distinct sample timestamps of every data section

    @property
    def name(self) -> str:
        return f"{self.host}_{self.day}"

    def metrics(self, section: str) -> dict:
        """metric -> number of values over all devices of one section."""
        out: dict = {}
        for (sec, _dev, metric), (n, _lo, _hi) in self.stats.items():
            if sec == section:
                out[metric] = out.get(metric, 0) + n
        return out

    def add(self, section: str, device, metric: str, value: float) -> None:
        self.rows += 1
        self.sections.add(section)
        self.devices.setdefault(section, set()).add(device)
        s = self.stats.get((section, device, metric))
        if s is None:
            self.stats[(section, device, metric)] = [1, value, value]
        else:
            s[0] += 1
            s[1] = min(s[1], value)
            s[2] = max(s[2], value)


@dataclass
class Report:
    filename: str
    content: bytes
    raw_bytes: int  # uncompressed text size
    spec: ReportSpec
    truth: Truth


def _devices(dev_col: str | None) -> list:
    if dev_col == "CPU":
        return ["all"] + [str(i) for i in range(CPUS)]
    if dev_col == "DEV":
        return [f"sd{chr(ord('a') + i)}" for i in range(DISKS)]
    if dev_col == "IFACE":
        return ["lo"] + [f"eth{i}" for i in range(IFACES - 1)]
    if dev_col == "FILESYSTEM":
        return [f"/dev/sd{chr(ord('a') + i)}1" for i in range(FILESYSTEMS)]
    return [None]


def _clock(sec: int, ampm: bool) -> str:
    h, m, s = sec // 3600, sec // 60 % 60, sec % 60
    if not ampm:
        return f"{h:02d}:{m:02d}:{s:02d}"
    mer = "AM" if h < 12 else "PM"
    return f"{(h % 12) or 12:02d}:{m:02d}:{s:02d} {mer}"


def _value(rng: random.Random, lo: float, hi: float, decimals: int) -> float:
    return round(rng.uniform(lo, hi), decimals)


def _sar_text(rng: random.Random, spec: ReportSpec, truth: Truth,
              day: date) -> str:
    times = list(range(spec.interval_s + 1, 86400, spec.interval_s))
    truth.samples = len(times)
    restart_at = rng.randrange(len(times) // 4, 3 * len(times) // 4) \
        if spec.restart else None
    restart_clock = (times[restart_at] - spec.interval_s // 2) if spec.restart else 0
    dmy = day.strftime("%m/%d/%Y")
    out = [f"Linux 5.14.0-{rng.randrange(100, 600)}.el9.x86_64 ({truth.host}) "
           f"\t{dmy} \t_x86_64_\t({CPUS} CPU)", ""]
    fmt_num = "{:.%df}"
    for dev_col, metrics, (lo, hi), decimals in SAR_SECTIONS:
        section = " ".join(metrics)
        devices = _devices(dev_col)
        device_last = dev_col == "FILESYSTEM"
        num = fmt_num % decimals

        def header(sec: int) -> str:
            cols = list(metrics)
            if dev_col and device_last:
                cols = cols + [dev_col]
            elif dev_col:
                cols = [dev_col] + cols
            return _clock(sec, spec.ampm) + "  " + "  ".join(f"{c:>9}" for c in cols)

        out.append(header(times[0] - spec.interval_s))
        for i, sec in enumerate(times):
            if i == restart_at:
                out += ["", f"{_clock(restart_clock, spec.ampm)}       LINUX RESTART\t"
                            f"({CPUS} CPU)", "", header(restart_clock)]
                truth.add("LINUX RESTART", None, "restart", 1.0)
            clock = _clock(sec, spec.ampm)
            for dev in devices:
                vals = []
                for metric in metrics:
                    v = _value(rng, lo, hi, decimals)
                    truth.add(section, dev, metric, v)
                    s = num.format(v)
                    vals.append(s.replace(".", ",") if spec.decimal_comma else s)
                cells = "  ".join(f"{v:>9}" for v in vals)
                if dev is None:
                    out.append(f"{clock}  {cells}")
                elif device_last:
                    out.append(f"{clock}  {cells}  {dev}")
                else:
                    out.append(f"{clock}  {dev:>9}  {cells}")
        out.append("Average:  (summary rows are not parsed)")
        out.append("")
    return "\n".join(out) + "\n"


def _sadf_json(rng: random.Random, spec: ReportSpec, truth: Truth,
               day: date) -> str:
    iso = day.isoformat()
    stats = []
    times = list(range(spec.interval_s + 1, 86400, spec.interval_s))
    truth.samples = len(times)
    devs = {
        "cpu": _devices("CPU"),
        "disk-device": _devices("DEV"),
        "iface": _devices("IFACE"),
    }
    for sec in times:
        entry: dict = {"timestamp": {"date": iso, "time": _clock(sec, False),
                                     "utc": 1, "interval": spec.interval_s}}
        for key, dev_key, metrics in SADF_SECTIONS:
            rows = []
            for dev in devs[dev_key] if dev_key else [None]:
                obj: dict = {dev_key: dev} if dev_key else {}
                for metric in metrics:
                    v = _value(rng, 0, 1000, 2)
                    truth.add(key, dev, metric, v)
                    head, _, leaf = metric.rpartition(".")
                    (obj.setdefault(head, {}) if head else obj)[leaf] = v
                rows.append(obj)
            payload = rows if dev_key else rows[0]
            if key.startswith("network."):
                entry.setdefault("network", {})[key.split(".", 1)[1]] = payload
            else:
                entry[key] = payload
        stats.append(entry)
    host: dict = {"nodename": truth.host, "sysname": "Linux",
                  "release": "5.14.0-284.el9.x86_64", "machine": "x86_64",
                  "number-of-cpus": CPUS, "file-date": iso,
                  "statistics": stats}
    if spec.restart:
        boot = _clock(rng.choice(times) - spec.interval_s // 2, False)
        host["restarts"] = [{"boot": {"date": iso, "time": boot, "utc": 1,
                                      "cpu_count": CPUS}}]
        truth.add("LINUX RESTART", None, "restart", 1.0)
    return json.dumps({"sysstat": {"hosts": [host]}})


def make_report(rng: random.Random, spec: ReportSpec, host: str,
                day: date) -> Report:
    truth = Truth(host=host, day=day.isoformat())
    if spec.fmt == "sadf":
        text = _sadf_json(rng, spec, truth, day)
        filename = f"{host}-{day:%Y%m%d}.json"
    else:
        text = _sar_text(rng, spec, truth, day)
        filename = f"sar{day:%d}-{host}"
    raw = text.encode()
    content = raw
    if spec.fmt == "sar.xz":
        content = lzma.compress(raw, preset=1)
        filename += ".xz"
    return Report(filename, content, len(raw), spec, truth)


def host_days(rng: random.Random, n: int, first: date = date(2024, 1, 1)):
    """``n`` distinct (host, day) pairs: stored names never collide."""
    hosts = [f"h{rng.randrange(16**6):06x}" for _ in range(max(1, n // 4))]
    out, seen = [], set()
    while len(out) < n:
        pair = (rng.choice(hosts), first + timedelta(days=rng.randrange(365)))
        if pair not in seen:
            seen.add(pair)
            out.append(pair)
    return out
