"""Executor CPU samples of one daily run, per Spark job.

Reads the listing of SKILL.md's job-listing main (its `t0 HH:MM:SS.mmm UTC`
line and one `job start_ms dur_ms stages tasks last_stage` row per job) and,
on stdin, `jfr print --stack-depth 100 --events jdk.ExecutionSample` of the
same JVM, printed with TZ=UTC. A sample taken on an executor thread
("Executor task launch worker ...") inside a job's [start, end) window counts
for that job (for each, where windows overlap). Per job it prints the sample
count and the methods that most often head the sampled stacks: by the first
frame of a `graft.` class, and by the top frame.

    TZ=UTC jfr print --stack-depth 100 --events jdk.ExecutionSample run.jfr \\
      | python3 tools/job_samples.py jobs.txt [top]
"""
import collections
import re
import sys

TIME = re.compile(r"(\d\d):(\d\d):(\d\d)\.(\d\d\d)")
FRAME = re.compile(r"^\s+([\w$.<>/]+)\(")


def ms_of_day(text):
    h, m, s, ms = map(int, TIME.search(text).groups())
    return ((h * 60 + m) * 60 + s) * 1000 + ms


def read_jobs(path):
    t0, jobs = None, []
    for line in open(path):
        f = line.split()
        if f[:1] == ["t0"]:
            t0 = ms_of_day(f[1])
        elif len(f) >= 6 and f[0].isdigit() and t0 is not None:
            start = t0 + int(f[1])
            jobs.append((int(f[0]), start, start + int(f[2]), " ".join(f[5:])))
    if t0 is None:
        sys.exit(f"no t0 line in {path}")
    return t0, jobs


def samples(lines):
    """(ms of day, thread name, frames) per sample."""
    time = thread = None
    frames = []
    for line in lines:
        s = line.strip()
        if s.startswith("startTime ="):
            time, thread, frames = ms_of_day(s), None, []
        elif s.startswith("sampledThread ="):
            thread = s.split('"')[1]
        elif s == "}" and time is not None:
            yield time, thread, frames
            time = None
        else:
            m = FRAME.match(line)
            if m and time is not None:
                frames.append(m.group(1))


def main():
    t0, jobs = read_jobs(sys.argv[1])
    top = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    count = collections.Counter()
    graft = collections.defaultdict(collections.Counter)
    head = collections.defaultdict(collections.Counter)
    for time, thread, frames in samples(sys.stdin):
        if not thread or not thread.startswith("Executor task launch") or not frames:
            continue
        if time < t0 - 43200000:  # the run crossed midnight
            time += 86400000
        own = next((f for f in frames if f.startswith("graft.")), "(no graft frame)")
        for jid, start, end, _ in jobs:
            if start <= time < end:
                count[jid] += 1
                graft[jid][own] += 1
                head[jid][frames[0]] += 1
    for jid, start, end, name in jobs:
        n = count[jid]
        print(f"job {jid} [{start - t0}, {end - t0}) ms, {n} samples: {name}")
        for label, c in (("graft", graft[jid]), ("top", head[jid])):
            for f, k in c.most_common(top):
                print(f"  {label} {100 * k / n:5.1f}% {f}")


if __name__ == "__main__":
    main()
