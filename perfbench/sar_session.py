"""``sar_session``: upload host-day reports and browse them through the
API, one client in a closed loop with zero think time.

Set-up starts the session, generates the reports, uploads the base
store (a small sar ASCII report with decimal commas and a restart)
through ``SarStore.upload`` and warms the request paths (a long-lived
server pays its Python-worker spawn and JIT warm-up once).

The timed phase repeats one fixed cycle until ``seconds`` have passed:
two uploads (a small sadf JSON report with a restart, a large
xz-compressed AM/PM sar report sampled every minute), each followed by
API requests against files picked with Zipf skew over
recency, so the newest host-days repeat. Every result is pulled to the
driver the way a UI renders it (a bounded ``toPandas``) and checked
against the generator's ground truth.

The traffic mix is a synthetic choice; no trace of real sar-browsing
traffic was available to derive it from: two uploads to eight requests
per cycle, Zipf exponent 1.1 over recency, a 2000-row page per pull.
Uploads and requests are reported apart, so a change that trades one
for the other shows on its own side.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from datetime import datetime, timedelta

from gen_sar import ReportSpec, host_days, make_report

BASE = (ReportSpec("sar", decimal_comma=True, restart=True),)
CYCLE_UPLOADS = (
    ReportSpec("sadf", restart=True),
    # the same host shape, sampled every minute instead of every 10
    ReportSpec("sar.xz", interval_s=60, ampm=True),
)
REQUESTS = ("file_info", "header_details", "get_table", "statistics",
            "analyze_section", "compare_files", "compare_files_aligned",
            "list_files")
# Warm-up runs the kinds whose operators cover the rest: analyze_section
# (filter, pivot, window, union, aggregate), the aligned comparison
# (join, broadcast, overlay), header_details (dimension join) and the
# binaryFile listing.
WARM = ("analyze_section", "compare_files_aligned", "header_details", "list_files")
ROW_CAP = 2000  # rows a UI page pulls
CPU_SECTION = "%user %nice %system %iowait %steal %idle"


class Stored:
    def __init__(self, user: str, report):
        self.user, self.report, self.truth = user, report, report.truth
        self.name = report.truth.name
        self.text = report.spec.fmt != "sadf"


def _dotted(truth, section: str) -> bool:
    return any("." in m for m in truth.metrics(section))


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class SarSession:
    def __init__(self, store, tracer, seed: int):
        import sarfile_analyzer_ng_spark.api as api

        self.store, self.tr, self.api = store, tracer, api
        # the seed picks values, hosts, days, windows and metrics; which
        # file, section and device each request addresses is the same
        # for every seed, so every seed does the same amount of work
        self.rng = random.Random(seed)
        self.shape = random.Random(0)
        gen = random.Random(seed)
        pairs = host_days(gen, len(BASE) + len(CYCLE_UPLOADS))
        self.base = [make_report(gen, s, *pairs[i]) for i, s in enumerate(BASE)]
        self.cycle = [make_report(gen, s, *pairs[len(BASE) + i])
                      for i, s in enumerate(CYCLE_UPLOADS)]
        self.files: list[Stored] = []
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.cycles = 0
        self.lat: list[tuple[str, float]] = []

    # -- checks ------------------------------------------------------------
    def _check(self, label: str, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(label)

    def _run_checked(self, label: str, fn) -> float:
        """Time ``fn`` (which returns (result, checker)); run the check
        outside the timed region. Returns the latency."""
        t0 = time.perf_counter()
        try:
            result, check = fn()
        except Exception as exc:  # an operation failure is a measured outcome
            self._check(f"{label}: {type(exc).__name__}: {exc}", False)
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        try:
            ok = bool(check(result))
        except Exception as exc:  # a malformed answer fails its check
            ok, label = False, f"{label} check: {type(exc).__name__}: {exc}"
        self._check(label, ok)
        return dt

    # -- operations --------------------------------------------------------
    def upload(self, user: str, report) -> float:
        def go():
            with self.tr.span("store.upload"):
                info = self.store.upload(user, report.filename, report.content)
            return info, lambda i: (
                i["rows"] == report.truth.rows
                and i["headers"] == len(report.truth.sections)
                and i["name"] == report.truth.name)

        dt = self._run_checked(f"upload {report.filename}", go)
        self.files.append(Stored(user, report))
        return dt

    def _pick(self, text_only: bool = False) -> Stored:
        files = [f for f in self.files if f.text or not text_only]
        ranks = list(range(len(files)))
        weights = [1.0 / (r + 1) ** 1.1 for r in ranks]
        return files[-1 - self.shape.choices(ranks, weights)[0]]

    def _load(self, f: Stored):
        with self.tr.span("store.load"):
            return self.store.load(f.user, f.name)

    def _pull(self, fn_name: str, build):
        """Build a frame through one API function, then pull a bounded
        page of it to the driver."""
        with self.tr.span(f"{fn_name}.build"):
            df = build()
        page = df.limit(ROW_CAP)
        with self.tr.span(f"{fn_name}.exec", frame=page):
            return page.toPandas()

    def _analyze(self, f: Stored, section: str, start=None, end=None) -> list:
        """One section's page per planned device, as the UI renders it."""
        with self.tr.span("api.analyze_section.build"):
            parts = self.api.analyze_section(self._load(f), f.name, section, start, end)
        with self.tr.span("api.analyze_section.exec"):
            return [(table.limit(ROW_CAP).toPandas(), stats.toPandas())
                    for _dev, table, stats in parts]

    def request(self, kind: str, op: str) -> float:
        rng = self.rng
        f = self._pick(text_only=kind.startswith("compare"))
        t = f.truth
        # analyze_section selects metric columns by name, which fails on
        # sadf's dotted names (io-reads.bread); finish() records that
        # defect apart (known_defects) instead of counting it every run
        sections = sorted(s for s in t.sections if s != "LINUX RESTART" and (
            kind != "analyze_section" or not _dotted(t, s)))
        section = self.shape.choice(sections)
        devices = sorted(d for d in t.devices[section] if d is not None)
        device = self.shape.choice(devices) if devices else None
        day = datetime.fromisoformat(t.day)
        start = day + timedelta(minutes=rng.randrange(0, 12 * 60))
        end = start + timedelta(hours=rng.randrange(2, 12))
        api = self.api

        def file_info():
            pdf = self._pull("api.file_info", lambda: api.file_info(self._load(f), f.name))

            def check(p):
                got = {r.section: r for r in p.itertuples()}
                return set(got) == t.sections and all(
                    r.n_samples == (1 if s == "LINUX RESTART" else t.samples)
                    and r.n_devices == len([d for d in t.devices[s] if d is not None])
                    for s, r in got.items())
            return pdf, check

        def header_details():
            pdf = self._pull("api.header_details",
                             lambda: api.header_details(self._load(f), f.name, section))
            want = t.metrics(section)
            return pdf, lambda p: dict(zip(p.metric, p.n_values)) == want

        def get_table():
            pdf = self._pull("api.get_table", lambda: api.get_table(
                self._load(f), f.name, section, start, end, device))
            metrics = set(t.metrics(section))
            return pdf, lambda p: 0 < len(p) <= t.samples + 1 and metrics <= set(p.columns)

        def statistics():
            pdf = self._pull("api.statistics", lambda: api.statistics(
                self._load(f), f.name, section, device))

            def check(p):
                want = {m: v for (s, d, m), v in t.stats.items()
                        if s == section and d == device}
                return len(p) == len(want) and all(
                    r.cnt == want[r.metric][0]
                    and _close(r.min, round(want[r.metric][1], 4))
                    and _close(r.max, round(want[r.metric][2], 4))
                    for r in p.itertuples())
            return pdf, check

        def analyze_section():
            pages = self._analyze(f, section, start, end)
            metrics = set(t.metrics(section))
            return pages, lambda ps: len(ps) >= 1 and all(
                len(tb) > 0 and set(st.metric) == metrics for tb, st in ps)

        def compare(aligned: bool):
            texts, names = [], set()
            for x in self.files:  # every sar-text host-day in the store
                if x.text and x.name not in names:
                    texts.append(x)
                    names.add(x.name)
            metric = rng.choice(sorted(t.metrics(CPU_SECTION)))

            def build():
                frames = [self._load(x) for x in texts]
                df = frames[0]
                for other in frames[1:]:
                    df = df.unionByName(other)
                return api.compare_files(df, CPU_SECTION, metric, "all", aligned=aligned)

            pdf = self._pull("api.compare_files", build)
            want = {x.name: x.truth.stats[(CPU_SECTION, "all", metric)][0] for x in texts}
            return pdf, lambda p: p.groupby("file").cnt.sum().to_dict() == want

        def list_files():
            pdf = self._pull("store.list_files", lambda: self.store.list_files())
            return pdf, lambda p: len(p) == len(self.files)

        ops = {
            "file_info": file_info, "header_details": header_details,
            "get_table": get_table, "statistics": statistics,
            "analyze_section": analyze_section,
            "compare_files": lambda: compare(False),
            "compare_files_aligned": lambda: compare(True),
            "list_files": list_files,
        }
        with self.tr.span(f"op.{kind}", op):
            return self._run_checked(f"{kind} {f.name}", ops[kind])

    # -- phases ------------------------------------------------------------
    def setup(self) -> dict:
        t0 = time.perf_counter()
        for r in self.base:
            self.upload("base", r)
        t1 = time.perf_counter()
        for kind in WARM:
            self.request(kind, None)
        return {"populate_s": t1 - t0, "warm_s": time.perf_counter() - t1}

    def finish(self) -> dict:
        """Describe the timed phase's input and its upload and request
        figures apart (its checks ran inline), then probe known engine
        defects, untimed and outside the checks."""
        timed = self._timed_files()
        raw = sum(f.report.raw_bytes for f in timed)
        ups = [d for k, d in self.lat if k == "upload"]
        reqs = [d for k, d in self.lat if k != "upload"]
        return {"cycles": self.cycles, "files_uploaded": len(timed),
                "raw_bytes_uploaded": raw,
                "long_frame_rows_uploaded": sum(f.truth.rows for f in timed),
                "store_files": len(self.files),
                "upload_p50_s": statistics.median(ups),
                "ingest_mb_per_s": raw / 1e6 / sum(ups),
                "request_p50_s": statistics.median(reqs),
                "known_defects": self._probe_defects()}

    def _probe_defects(self) -> dict:
        """analyze_section on each dotted-name section: "ok" once the
        engine handles it, else the error's first line."""
        out = {}
        for f in self.files:
            for section in sorted(s for s in f.truth.sections if _dotted(f.truth, s)):
                label = f"analyze_section {f.report.spec.fmt} {section}"
                if label in out:
                    continue
                try:
                    self._analyze(f, section)
                    out[label] = "ok"
                except Exception as exc:  # the defect under watch
                    out[label] = f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        return out

    def _timed_files(self) -> list[Stored]:
        return [f for f in self.files if f.user != "base"]

    def store_stats(self) -> dict:
        """Files and bytes each timed upload left in the store."""
        timed = self._timed_files()
        n_files = n_bytes = 0
        for f in timed:
            raw = self.store.root / f.user / f.name
            n_bytes += raw.stat().st_size
            n_files += 1
            for leaf in raw.with_name(f.name + ".parquet").rglob("*"):
                if leaf.is_file() and not leaf.name.startswith((".", "_")):
                    n_files += 1
                    n_bytes += leaf.stat().st_size
        n = max(len(timed), 1)
        raw_bytes = sum(f.report.raw_bytes for f in timed)
        return {"store.files_written": n_files / n, "store.bytes_written": n_bytes / n,
                "store.stored_bytes_per_raw_byte": n_bytes / max(raw_bytes, 1)}

    def cycle_ops(self, c: int) -> list:
        """One cycle: each upload followed by its share of the requests,
        in an order fixed per cycle; the same work every cycle."""
        kinds = list(REQUESTS)
        random.Random(c).shuffle(kinds)
        per = len(kinds) // len(self.cycle)
        ops = []
        for i, rep in enumerate(self.cycle):
            ops.append(("upload", rep))
            take = kinds[i * per:] if i == len(self.cycle) - 1 else kinds[i * per:(i + 1) * per]
            ops += [("request", k) for k in take]
        return ops

    def timed(self, seconds: float, on_op) -> list[tuple[str, float]]:
        lat = []
        t0 = time.perf_counter()
        c = 0
        while c == 0 or time.perf_counter() - t0 < seconds:
            for i, (what, arg) in enumerate(self.cycle_ops(c)):
                op = f"c{c}.{i}"
                if what == "upload":
                    with self.tr.span("op.upload", op):
                        lat.append(("upload", self.upload(f"c{c}", arg)))
                else:
                    lat.append((arg, self.request(arg, op)))
                on_op()
            c += 1
        self.cycles = c
        self.lat = lat
        return lat
