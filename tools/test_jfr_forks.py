"""Self-test of tools/jfr_forks.py: python3 -m unittest tools/test_jfr_forks.py"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import jfr_forks  # noqa: E402


def frame(cls, method):
    return {"method": {"type": {"name": cls}, "name": method}}


def start(cmd, thread, *frames):
    return {"type": "jdk.ProcessStart",
            "values": {"command": cmd, "eventThread": {"javaName": thread},
                       "stackTrace": {"frames": list(frames)}}}


HADOOP = [frame("java/lang/ProcessBuilder", "start"),
          frame("org/apache/hadoop/util/Shell", "runCommand"),
          frame("org/apache/hadoop/fs/RawLocalFileSystem", "setPermission")]
RENAME = frame("org/apache/spark/sql/execution/streaming/checkpointing/"
               "FileContextBasedCheckpointFileManager", "renameTempFile")
CREATE = frame("org/apache/spark/sql/execution/streaming/checkpointing/"
               "FileContextBasedCheckpointFileManager", "createTempFile")
RECORDING = {"recording": {"events": [
    start("readlink file:/tmp/a", "ChecksumCheckpointFileManager-Thread-1",
          *HADOOP, RENAME),
    start("readlink file:/tmp/b", "ChecksumCheckpointFileManager-Thread-12",
          *HADOOP, RENAME, frame("scala/Option", "map")),
    start("chmod 0644 /tmp/a", "stream execution thread for q1 [id = 3f-1]",
          *HADOOP, CREATE),
    start("getconf PAGESIZE", "main"),
    {"type": "jdk.SystemProcess", "values": {}},
]}}


class CensusTest(unittest.TestCase):
    def census(self):
        text = json.dumps(RECORDING, indent=1)
        return jfr_forks.census(jfr_forks.events(text))

    def test_counts_by_command_caller_and_thread(self):
        n, by_cmd, by_caller, by_thread = self.census()
        self.assertEqual(n, 4)
        self.assertEqual(dict(by_cmd), {"readlink": 2, "chmod": 1,
                                        "getconf": 1})
        rename = ("org.apache.spark.sql.execution.streaming.checkpointing."
                  "FileContextBasedCheckpointFileManager.renameTempFile")
        self.assertEqual(by_caller[rename], 2)
        self.assertEqual(by_caller["?"], 1)
        self.assertEqual(by_thread["ChecksumCheckpointFileManager-Thread-N"],
                         2)
        self.assertEqual(by_thread["stream execution thread for qN"], 1)

    def test_report_lists_every_group_by_count(self):
        lines = jfr_forks.report(*self.census())
        self.assertEqual(lines[0], "process starts: 4")
        i = lines.index("by command:")
        self.assertEqual(lines[i + 1].split(), ["2", "readlink"])

    def test_empty_recording(self):
        n, by_cmd, _, _ = jfr_forks.census(jfr_forks.events(
            '{"recording": {"events": [\n]}}'))
        self.assertEqual((n, len(by_cmd)), (0, 0))
