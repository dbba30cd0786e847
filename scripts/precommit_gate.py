#!/usr/bin/env python3
"""Repo-side leak/copy gate — the same checks the round driver runs
(LEAKCHECK/COPYCHECK), wired to run at commit time so a regression is
caught by the builder in-round, not by the judge's artifact next round.

Checks, over tracked source under src/ and scripts/:
  1. leak: every `import` in Scala sources must come from a known-public
     root (the library depends only on Spark + the JDK + scalatest);
     every URL must be a known-public host; no cloud-bucket URIs, no
     chat-archive links, no credential-shaped strings, and every
     `sys.env` key must be on the documented SPARK_GRAFT_* allowlist —
     a whitelist regime, so a NEW proprietary-looking reference fails
     closed instead of needing a blocklist update.
  2. copy: token-level similarity of each repo source file against each
     file of the read-only reference tree (difflib ratio over an
     identifier/literal token stream, the COPYCHECK statistic); fails
     at ratio > 0.6.

Usage:  python3 scripts/precommit_gate.py            # gate, exit 1 on hit
        python3 scripts/precommit_gate.py --install  # register as a git
            pre-commit hook via core.hooksPath=.githooks
Exit codes: 0 clean, 1 findings, 2 cannot run (missing tree).
"""
import difflib
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE = "/root/reference"

# -- leak rules (whitelists; anything off-list is a finding) -----------
PUBLIC_IMPORT_ROOTS = (
    "org.apache.spark", "org.apache.hadoop", "org.apache.parquet",
    "org.scalatest", "org.scalacheck", "scala", "java", "javax", "graft",
)
PUBLIC_URL_HOSTS = (
    "spark.apache.org", "arxiv.org", "www.cnj.jus.br", "cnj.jus.br",
    "duckdb.org", "github.com/apache", "en.wikipedia.org",
)
ENV_ALLOWLIST = re.compile(r"SPARK_GRAFT_[A-Z_]+|INCLUDE_QUADRATIC"
                           r"|SELF_CHECK_[A-Z_]+|SPARK_DRIVER_MEM"
                           r"|SCALE_FAMILIES_[A-Z_]+"
                           r"|COURSIER_[A-Z_]+|JAVA_[A-Z_]+|PATH|HOME")
CRED_PATTERNS = [
    re.compile(r"AKIA[0-9A-Z]{16}"),                 # AWS access key id
    re.compile(r"xox[baprs]-[0-9A-Za-z-]{10,}"),     # chat bot/user token
    re.compile(r"ghp_[0-9A-Za-z]{30,}"),             # github PAT
    re.compile(r"sk-[0-9A-Za-z]{32,}"),              # generic secret key
    re.compile(r"-----BEGIN [A-Z ]*PRIVATE KEY-----"),
]
BUCKET = re.compile(r"\b(?:s3a?|gs|wasbs?|abfss?)://[^\s\"']+")
CHAT_LINK = re.compile(r"slack\.com/|/archives/C[0-9A-Z]{6,}")
URL = re.compile(r"https?://([^\s/\"')>]+)")
IMPORT = re.compile(r"^\s*import\s+([A-Za-z0-9_.]+)")
ENVREF = re.compile(r"(?:sys\.env(?:\.get(?:OrElse)?)?\s*\(\s*|os\.environ"
                    r"(?:\.get)?\s*[\[(]\s*)\"([A-Z0-9_]+)\"")


def tracked_sources():
    out = subprocess.run(["git", "ls-files", "src", "scripts"], cwd=REPO,
                         capture_output=True, text=True).stdout.splitlines()
    return [f for f in out if f.endswith((".scala", ".py", ".sbt", ".sh"))]


def leak_findings(files):
    finds = []
    for rel in files:
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            for ln, line in enumerate(fh, 1):
                m = IMPORT.match(line)
                if m and rel.endswith(".scala"):
                    root = m.group(1)
                    # judge only reverse-domain-rooted imports: a
                    # lowercase local-value import (spark.implicits._,
                    # media.sparkSession.implicits._) names a variable in
                    # scope, not a library, and can never leak a vendor
                    rooted = root.split(".")[0] in (
                        "org", "com", "io", "net", "ai", "dev", "cloud",
                        "software", "co")
                    if rooted and not any(root == p or root.startswith(p + ".")
                                          for p in PUBLIC_IMPORT_ROOTS):
                        finds.append((rel, ln, "import", root))
                for m in URL.finditer(line):
                    host = m.group(1)
                    if not any(host == h or host.endswith("." + h.split("/")[0])
                               or (h in m.group(0)) for h in PUBLIC_URL_HOSTS):
                        finds.append((rel, ln, "url", m.group(0)[:80]))
                if BUCKET.search(line):
                    finds.append((rel, ln, "bucket", BUCKET.search(line).group(0)[:80]))
                if CHAT_LINK.search(line):
                    finds.append((rel, ln, "chat-link", line.strip()[:80]))
                for cp in CRED_PATTERNS:
                    if cp.search(line):
                        finds.append((rel, ln, "credential", cp.pattern))
                for m in ENVREF.finditer(line):
                    if not ENV_ALLOWLIST.fullmatch(m.group(1)):
                        finds.append((rel, ln, "env-var", m.group(1)))
    return finds


TOKEN = re.compile(r"[A-Za-z_][A-Za-z0-9_]*|\d+|[^\sA-Za-z0-9_]")


def tokens(path):
    try:
        with open(path, encoding="utf-8", errors="ignore") as fh:
            return TOKEN.findall(fh.read())
    except OSError:
        return []


def copy_findings(files, threshold=0.6):
    ref_files = []
    for dirpath, _, names in os.walk(REFERENCE):
        for n in names:
            if n.endswith((".py", ".scala", ".java", ".go", ".rs", ".cpp", ".sql")):
                ref_files.append(os.path.join(dirpath, n))
    if not ref_files:
        return None  # reference tree absent: cannot run this half
    ref_toks = {p: tokens(p) for p in ref_files}
    finds = []
    for rel in files:
        if not rel.startswith("src/"):
            continue
        mine = tokens(os.path.join(REPO, rel))
        if len(mine) < 50:
            continue
        for rp, rt in ref_toks.items():
            if not rt:
                continue
            ratio = difflib.SequenceMatcher(None, mine, rt).ratio()
            if ratio > threshold:
                finds.append((rel, os.path.relpath(rp, REFERENCE), round(ratio, 3)))
    return finds


def install_hook():
    hookdir = os.path.join(REPO, ".githooks")
    os.makedirs(hookdir, exist_ok=True)
    hook = os.path.join(hookdir, "pre-commit")
    with open(hook, "w") as fh:
        fh.write("#!/bin/sh\nexec python3 scripts/precommit_gate.py\n")
    os.chmod(hook, 0o755)
    subprocess.run(["git", "config", "core.hooksPath", ".githooks"], cwd=REPO)
    print("installed: .githooks/pre-commit (core.hooksPath=.githooks)")


def main():
    if "--install" in sys.argv:
        install_hook()
        return 0
    files = tracked_sources()
    if not files:
        print("precommit_gate: no tracked sources found")
        return 2
    rc = 0
    leaks = leak_findings(files)
    for rel, ln, kind, what in leaks:
        print(f"LEAK {kind}: {rel}:{ln}: {what}")
        rc = 1
    copies = copy_findings(files)
    if copies is None:
        print("note: reference tree absent — copy check skipped")
    else:
        for rel, ref, ratio in copies:
            print(f"COPY {ratio}: {rel} vs reference {ref}")
            rc = 1
    print(f"precommit_gate: {'FAIL' if rc else 'clean'} "
          f"({len(leaks)} leak, {0 if copies is None else len(copies)} copy findings)")
    return rc


if __name__ == "__main__":
    sys.exit(main())
