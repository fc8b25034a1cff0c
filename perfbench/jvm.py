"""Launches one benchmark JVM (`perfbench.Main`) and tracks its peak RSS."""
import os
import subprocess
import threading
import time

import build

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"


def _rss_watch(pid, peak, stop):
    """Poll VmHWM (the kernel's own high-water mark) until `stop`."""
    path = f"/proc/{pid}/status"
    while not stop.is_set():
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak[0] = max(peak[0], int(line.split()[1]) / 1024.0)
        except OSError:
            pass
        stop.wait(0.2)


def run(args, work, log_name, timeout):
    """Run perfbench.Main with `args`; return (exit code, peak RSS MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main"] + args)
    peak, stop = [0.0], threading.Event()
    with open(os.path.join(work, log_name), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        w = threading.Thread(target=_rss_watch, args=(p.pid, peak, stop), daemon=True)
        w.start()
        deadline = time.time() + timeout
        while p.poll() is None and time.time() < deadline:
            time.sleep(0.1)
        # read the final high-water mark before the process is reaped
        if p.poll() is None:
            p.kill()
        code = p.wait()
        stop.set()
        w.join()
    return code, peak[0]
