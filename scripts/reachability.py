#!/usr/bin/env python3
"""Method-level reachability over graft's compiled classes.

Prints every public definition in `src/main` that no production root
reaches. It disassembles the classes with the JDK's `javap -c -p -v`
(nothing else is needed) and walks the call graph from the roots below.

    sbt compile && python3 scripts/reachability.py [classes_dir]

`classes_dir` defaults to target/scala-2.13/classes. Output: one `kept`
line per allowlist entry that covers unreached definitions, with their
count and the reason they stay, then one `UNREACHED` line per unreached
definition outside the allowlist. The exit status is 1 when there is an
UNREACHED line.

Rules:
- a node is (class, method name); overloads are merged;
- `Method`/`InterfaceMethod` refs are edges (resolved up the superclass
  and interface chain when the named class does not define the method);
- `Field` and `class` refs reach the class: its `<clinit>`/`<init>`;
- an `invokedynamic` reaches the method handles of its bootstrap entry
  (Scala 2.13 lambdas);
- a string constant `graft.X.m(` reaches `X.m` (the Java source that
  `doGenCode` emits), and a string `graft.X.Y` reaches class `X$Y`
  (TypeTag names);
- every method of a reached class that is not a Scala `object` is
  reached, and so is every method of a reached `object` that has a
  superclass or an interface other than Serializable/Product: Spark and
  the callers call those virtually.
"""
import os
import re
import subprocess
import sys
from collections import defaultdict

# (class or object, method or None for all of it)
ROOTS = [
    ("graft.Registry", "all"),
    ("graft.Registry", "byName"),
    ("graft.pipeline.Medallion", "runAtomicBatches"),
    ("graft.pipeline.Medallion", "committed"),
    ("graft.streaming.StreamingCdcLoad", None),
    ("graft.GraftSession", None),
    ("graft.Bench", None),
    ("graft.Verify", None),
    ("graft.SparkEntry", None),
    ("graft.ProbeQueryJobs", None),
    ("graft.GraftSparkExtensions", None),
    # what perfbench calls
    ("graft.sources.MonzoSource", "flattenTransactions"),
    ("graft.sources.MonzoSource", "shapeBalance"),
    ("graft.sources.MonzoSource", "explodePots"),
    ("graft.schema.MonzoSchemas", "bronzePots"),
    ("graft.schema.MonzoSchemas", "apiTransaction"),
    ("graft.queries.Scratch", "deleteRecursively"),
    ("graft.queries.Artifacts", "cached"),
    ("graft.queries.Artifacts", "buildSecs"),
    ("graft.queries.Artifacts", "Root"),
]

# dotted prefix of a definition -> why it stays although nothing reaches it
ALLOW = [
    ("graft.sources.v2.",
     "the reference's extract and OAuth-refresh layer (MonzoApiSource, "
     "HttpFetch, TokenAuth); it needs the network, so no harness main drives it"),
    ("graft.functions.GraftFunctions.registerAll",
     "the SQL-function surface for a session that is already built"),
    ("graft.operators.Ann.NoStore",
     "the no-cache default of ivfTopK's centroid hook; every query passes "
     "an Artifacts store, library callers and the specs take the default"),
    ("graft.operators.Pq.NoCodebookStore",
     "the no-cache default of pqTopK's codebook hook, as Ann.NoStore"),
]

# members the Scala compiler writes for case classes, objects and lambdas
GENERATED = {
    "<init>", "<clinit>", "apply", "unapply", "writeReplace", "readResolve",
    "copy", "productArity", "productElement", "productElementName",
    "productElementNames", "productIterator", "productPrefix", "canEqual",
    "equals", "hashCode", "toString", "tupled", "curried", "andThen",
    "compose",
}
PLAIN_PARENTS = {"java.lang.Object", "java.io.Serializable", "scala.Product"}

REF = re.compile(
    r"// (Method|InterfaceMethod|Field|class|String|InvokeDynamic) (.*)$")
HANDLE = re.compile(r"REF_\w+ ([\w/$]+)\.([^:]+):")
CODEGEN_CALL = re.compile(r"\b(graft(?:\.[\w$]+)+)\.([\w$]+)\(")
TYPE_NAME = re.compile(r"^graft(?:\.[\w$]+)+$")


class Cls:
    def __init__(self, name):
        self.name = name          # dotted JVM name, e.g. graft.Registry$
        self.parents = []         # superclass + interfaces (dotted)
        self.is_object = False    # has a static MODULE$ field
        self.methods = {}         # name -> is public
        self.static = set()       # names of static methods
        self.edges = defaultdict(list)  # method -> [(kind, target)]
        self.bootstraps = {}      # index -> [(class, method)]


def disassemble(classes_dir):
    files = []
    for root, _, names in os.walk(classes_dir):
        files += [os.path.join(root, n) for n in names if n.endswith(".class")]
    out = subprocess.run(["javap", "-c", "-p", "-v"] + sorted(files),
                         check=True, capture_output=True, text=True).stdout
    return out, len(files)


def strip_generics(s):
    while "<" in s and ">" in s:
        t = re.sub(r"<[^<>()]*>", "", s)
        if t == s:
            break
        s = t
    return s


def method_name(header, cls_name):
    if header.endswith("static {};"):
        return "<clinit>"
    name = header[:header.index("(")].split()[-1]
    return "<init>" if name == cls_name else name


def parse(text):
    classes = {}
    cur, meth, in_boot, boot_idx = None, None, False, None
    for line in text.splitlines():
        if line.startswith("Classfile "):
            cur, meth, in_boot = None, None, False
            continue
        m = re.match(r"^(?:public |final |abstract |private |protected )*"
                     r"(?:class|interface) ([\w.$]+)"
                     r"(?: extends ([\w.$, ]+?))?(?: implements ([\w.$,]+))?$",
                     strip_generics(line))
        if cur is None and m:
            cur = classes.setdefault(m.group(1), Cls(m.group(1)))
            for grp in (m.group(2), m.group(3)):
                if grp:
                    cur.parents += [p.strip() for p in grp.split(",")]
            continue
        if cur is None:
            continue
        if line == "}":
            meth = None
            continue
        if line.startswith("BootstrapMethods:"):
            in_boot, meth = True, None
            continue
        if in_boot:
            b = re.match(r"^  (\d+): #", line)
            if b:
                boot_idx = int(b.group(1))
                cur.bootstraps[boot_idx] = []
            for h in HANDLE.finditer(line):
                if boot_idx is not None and "LambdaMetafactory" not in line \
                        and "LambdaDeserialize" not in line:
                    cur.bootstraps[boot_idx].append(
                        (h.group(1).replace("/", "."), h.group(2)))
            continue
        # member headers sit at two-space indent inside the class body
        if line.startswith("  ") and not line.startswith("   ") \
                and line.rstrip().endswith(";") and not line.startswith("  #"):
            header = line.strip()
            if "(" in header or header.endswith("static {};"):
                meth = method_name(strip_generics(header), cur.name)
                public = header.startswith("public ")
                cur.methods[meth] = cur.methods.get(meth, False) or public
                if " static " in f" {header}":
                    cur.static.add(meth)
            else:
                meth = None
                if re.search(r"\bstatic\b.* MODULE\$;$", header):
                    cur.is_object = True
            continue
        if meth is None:
            continue
        r = REF.search(line)
        if r:
            cur.edges[meth].append((r.group(1), r.group(2)))
    return classes


def analyse(classes):
    by_dotted = defaultdict(list)   # graft.X.Y -> [graft.X$Y, ...]
    for name in classes:
        by_dotted[name.replace("$", ".").rstrip(".")].append(name)

    reached_cls, reached = set(), set()
    work = []

    def reach_method(cname, m):
        if (cname, m) not in reached:
            reached.add((cname, m))
            work.append((cname, m))

    def resolve(cname, m, seen=None):
        """Classes that define `m` as seen from `cname` (virtual lookup up)."""
        c = classes.get(cname)
        if c is None:
            return []
        if m in c.methods:
            return [cname]
        seen = seen if seen is not None else set()
        found = []
        for p in c.parents:
            if p not in seen:
                seen.add(p)
                found += resolve(p, m, seen)
        return found

    def reach_class(cname):
        c = classes.get(cname)
        if c is None or cname in reached_cls:
            return
        reached_cls.add(cname)
        virtual = not c.is_object or any(p not in PLAIN_PARENTS for p in c.parents)
        for m in c.methods:
            if virtual or m in ("<clinit>", "<init>"):
                reach_method(cname, m)
        for p in c.parents:   # constructors chain to the parents'
            reach_class(p)

    def reach_ref(cname, m):
        for d in resolve(cname, m):
            reach_method(d, m)
        if cname in classes and "<clinit>" in classes[cname].methods:
            reach_method(cname, "<clinit>")

    for cls, m in ROOTS:
        found = False
        for name in (cls, cls + "$"):
            c = classes.get(name)
            if c is not None and m is None:
                reach_class(name)
                for mm in c.methods:
                    reach_method(name, mm)
                found = True
            elif c is not None and m in c.methods:
                reach_ref(name, m)
                found = True
        if not found:   # a renamed root must not pass silently
            sys.exit(f"reachability: root {cls}.{m or '*'} not found")

    while work:
        cname, m = work.pop()
        c = classes[cname]
        for kind, target in c.edges.get(m, []):
            if kind in ("Method", "InterfaceMethod", "Field"):
                # javap leaves out the class of a member of the same class
                head = target.split(":", 1)[0]
                owner, _, name = head.rpartition(".")
                owner = owner.replace("/", ".") if owner else cname
                if kind == "Field":
                    reach_class(owner)
                else:
                    reach_ref(owner, name.strip('"'))
            elif kind == "class":
                reach_class(target.strip('"[L;').replace("/", "."))
            elif kind == "InvokeDynamic":
                idx = int(re.match(r"#(\d+)", target).group(1))
                for hc, hm in c.bootstraps.get(idx, []):
                    reach_ref(hc, hm)
            elif kind == "String":
                for cc in CODEGEN_CALL.finditer(target):
                    for name in by_dotted.get(cc.group(1), []):
                        reach_ref(name, cc.group(2))
                if TYPE_NAME.match(target):
                    for name in by_dotted.get(target, []):
                        reach_class(name)
    return reached_cls, reached


def unreached_definitions(classes, reached_cls, reached):
    out = []
    for name in sorted(classes):
        c = classes[name]
        simple = name.rsplit(".", 1)[-1]
        if "$$" in simple or "$anon" in simple or re.search(r"\$\d", simple):
            continue   # lambdas, anonymous and specialized classes
        dotted = name.replace("$", ".").rstrip(".")
        # a class beside an object carries the object's static forwarders;
        # without a constructor it is nothing else
        module = name + "$" in classes and not c.is_object
        forwarders = c.static if module else set()
        mirror_only = module and "<init>" not in c.methods
        companion = classes.get(name[:-1]) if c.is_object else None
        generated_only = c.is_object and not (c.methods.keys() - GENERATED) or (
            companion is not None and "scala.Product" in companion.parents)
        if name not in reached_cls and not generated_only and not mirror_only:
            out.append(("object " if c.is_object else "class ") + dotted)
            continue
        for m, public in sorted(c.methods.items()):
            if public and "$" not in m and m not in GENERATED \
                    and m not in forwarders and (name, m) not in reached:
                out.append(f"{dotted}.{m}")
    return out


def main():
    classes_dir = sys.argv[1] if len(sys.argv) > 1 else "target/scala-2.13/classes"
    text, n_files = disassemble(classes_dir)
    classes = parse(text)
    reached_cls, reached = analyse(classes)
    n_methods = sum(len(c.methods) for c in classes.values())
    print(f"reachability: {n_files} classes, {len(reached)} of {n_methods} "
          f"methods reached from {len(ROOTS)} roots")
    kept, bad = defaultdict(int), []
    for d in unreached_definitions(classes, reached_cls, reached):
        prefix = next((p for p, _ in ALLOW if d.split(" ")[-1].startswith(p)), None)
        if prefix:
            kept[prefix] += 1
        else:
            bad.append(d)
    for prefix, why in ALLOW:
        if kept[prefix]:
            print(f"kept       {prefix} ({kept[prefix]}): {why}")
    for d in bad:
        print(f"UNREACHED  {d}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
