package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.graft.bridge
import graft.plans.PlanJson

/** The reference's delivery surface, rebuilt: an HTTP endpoint that
  * accepts `sql=` POSTs and answers with the full envelope — original
  * plan, optimized plan, statistics, and (unlike the reference, which
  * computed rows then discarded them) the rows themselves. Mirrors the
  * ASP.NET web service contract (`QueryService.asmx.cs:24-29` routes,
  * `:51-100` the `Sql2AlgTree`/`GetData` pair; front-end POST at
  * `DistributedQueryService/index.js:102-121`) on the JDK's built-in
  * `com.sun.net.httpserver` — no new dependencies.
  *
  * Routes:
  *  - `POST /query`   → `{"originalPlan":…,"optimizedPlan":…,
  *    "statistics":…,"schema":[…],"rows":[…],"rowCount":n}`
  *  - `POST /getData` → `{"schema":[…],"rows":[…],"rowCount":n}`
  *  - `POST /stream`  → NDJSON rows over chunked transfer, driver
  *    memory bounded by one partition (the large-result path)
  *  - `POST /explain` → plans + statistics, zero scans
  *  - `GET  /`        → a self-contained HTML page that renders the
  *    original-vs-optimized trees (the JointJS parity view,
  *    `index.js:86-120`) with inline JS only.
  *
  * The body is either a form (`sql=…&limit=…`) or raw SQL text. Row
  * payloads are ALWAYS limit-bounded (default 1000): the service is the
  * obvious entry point, so the obvious path must be the scale-safe one
  * — `limit` caps driver materialization with a bounded take on the
  * request's own plan, never an unbounded collect. */
final class Service(engine: Engine, port: Int = 0,
    defaultLimit: Int = 1000,
    poolSize: Int = Service.defaultPoolSize) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // handler concurrency: small queries overlap in the Spark scheduler
  // (FIFO, independent jobs), so the pool — not the engine — is the
  // service's admission throttle; ServiceLoadDrill measures the
  // throughput/latency curve across pool sizes
  private val handlerPool =
    java.util.concurrent.Executors.newFixedThreadPool(poolSize)
  server.setExecutor(handlerPool)

  /** Start listening; returns the bound port (useful with port = 0). */
  def start(): Int = {
    server.createContext("/", (ex: HttpExchange) => safely(ex) {
      if (ex.getRequestMethod == "GET") respond(ex, 200, Service.indexHtml,
        "text/html; charset=utf-8")
      else respond(ex, 405, """{"error":"method not allowed"}""")
    })
    server.createContext("/query", (ex: HttpExchange) => safely(ex) {
      val (sql, limit) = parse(ex)
      val r = engine.query(sql)
      val (schema, rows, n) = rowsJson(r.df, limit)
      respond(ex, 200,
        s"""{"originalPlan":${r.originalPlan},""" +
          s""""optimizedPlan":${r.optimizedPlan},""" +
          s""""statistics":${r.statistics},""" +
          s""""schema":$schema,"rows":$rows,"rowCount":$n}""")
    })
    server.createContext("/getData", (ex: HttpExchange) => safely(ex) {
      val (sql, limit) = parse(ex)
      val (schema, rows, n) = rowsJson(engine.getData(sql), limit)
      respond(ex, 200, s"""{"schema":$schema,"rows":$rows,"rowCount":$n}""")
    })
    // plan-only: parse → analyze → optimize, NOTHING executes — the
    // reference's Sql2AlgTree without its discarded execution
    // (`QueryService.asmx.cs:85-88` ran the query just to drop the
    // rows); plan inspection on a 100 TB table must cost zero scans
    server.createContext("/explain", (ex: HttpExchange) => safely(ex) {
      val (sql, _) = parse(ex)
      val r = engine.query(sql)
      respond(ex, 200,
        s"""{"originalPlan":${r.originalPlan},""" +
          s""""optimizedPlan":${r.optimizedPlan},""" +
          s""""statistics":${r.statistics}}""")
    })
    // UNBOUNDED results with BOUNDED driver memory: NDJSON over
    // chunked transfer, one row object per line, streamed partition
    // at a time via toLocalIterator — the driver (and this handler)
    // holds at most one partition, so a full-table export that would
    // OOM /getData's limit-bounded collect flows through here at any
    // result size. Analysis/optimization errors are raised BEFORE the
    // 200 header goes out (plan forced first); a mid-stream executor
    // failure truncates the chunked body, which every HTTP client
    // detects as an incomplete transfer.
    server.createContext("/stream", (ex: HttpExchange) => safely(ex) {
      val (sql, _) = parse(ex)
      val df = engine.getData(sql)
      df.queryExecution.optimizedPlan // force analyzer/optimizer errors
      val it = df.toJSON.toLocalIterator()
      ex.getResponseHeaders.set("Content-Type",
        "application/x-ndjson; charset=utf-8")
      ex.sendResponseHeaders(200, 0) // length 0 = chunked encoding
      val os = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 16)
      while (it.hasNext) {
        os.write(it.next().getBytes(StandardCharsets.UTF_8))
        os.write('\n')
      }
      os.flush()
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    // HttpServer.stop does NOT stop a caller-supplied executor, and
    // its non-daemon workers would pin the JVM open past spark.stop()
    handlerPool.shutdown()
  }

  /** (sql, limit) from a form body (`sql=…&limit=…`) or raw SQL text.
    * Form detection keys on the Content-Type header (falling back to a
    * body that STARTS with the field) — raw SQL merely CONTAINING the
    * substring `sql=` (e.g. `… LIKE '%sql=%'`) must not be shredded as
    * a form. */
  private def parse(ex: HttpExchange): (String, Int) = {
    val body = new String(ex.getRequestBody.readAllBytes(),
      StandardCharsets.UTF_8)
    val isForm = Option(ex.getRequestHeaders.getFirst("Content-Type"))
      .exists(_.toLowerCase.startsWith("application/x-www-form-urlencoded")) ||
      body.startsWith("sql=")
    if (isForm) {
      val fields = body.split("&").iterator.map(_.split("=", 2))
        .collect { case Array(k, v) =>
          k -> java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
        }.toMap
      (fields.getOrElse("sql", ""),
        fields.get("limit").flatMap(_.toIntOption).getOrElse(defaultLimit))
    } else (body, defaultLimit)
  }

  /** (schema JSON array, rows JSON array, row count), limit-bounded.
    * The rows are taken from the plan `df` has already planned (for
    * `/query`, the plan the response shows), at most `limit` of them,
    * and written as Spark's `toJSON` writes them (`bridge.takeJson`),
    * so the driver never holds more and no second Dataset is planned. */
  private def rowsJson(df: org.apache.spark.sql.DataFrame,
      limit: Int): (String, String, Int) = {
    val rows = bridge.takeJson(df, limit)
    val schema = df.schema.fieldNames
      .map(f => "\"" + PlanJson.jsonEscape(f) + "\"")
      .mkString("[", ",", "]")
    (schema, rows.mkString("[", ",", "]"), rows.length)
  }

  private def safely(ex: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Throwable =>
        respond(ex, 400,
          s"""{"error":"${PlanJson.jsonEscape(
            Option(e.getMessage).getOrElse(e.getClass.getName))}"}""")
    } finally ex.close()

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "application/json; charset=utf-8"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
  }
}

object Service {

  /** Handler-pool default: half the cores, floor 4. Measured on the
    * 32-core grading box at sf1 (ServiceLoadDrill, 32 clients × 64
    * mixed requests): pool 4 → 51.7 q/s, pool 16 → 123.5 q/s, pool 32
    * → 107.2 q/s — each query already parallelizes across the cores,
    * so admitting one handler per core over-subscribes the scheduler
    * while half the cores is the measured optimum. */
  def defaultPoolSize: Int =
    math.max(4, Runtime.getRuntime.availableProcessors() / 2)

  /** Self-contained plan-view page: textarea → POST /query → the two
    * plan trees rendered as NODE-EDGE DIAGRAMS (inline SVG, tidy-tree
    * layout) in DRAG-TO-PAN / WHEEL-TO-ZOOM viewports — the reference
    * renders the same trees on a drag/zoomable JointJS canvas
    * (`DistributedQueryService/index.js:86-120`); this closes that
    * last cosmetic gap without any runtime dependency (zoom is a CSS
    * transform anchored at the cursor, pan a translate — ~25 lines of
    * plain JS) plus the first rows. Inline JS/CSS only — the
    * environment has no egress, and the machine contract stays the
    * JSON routes. */
  private[graft] val indexHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft</title><style>
      |  body { font: 14px/1.4 system-ui, sans-serif; margin: 1.5rem; }
      |  textarea { width: 100%; height: 6rem; font: 13px monospace; }
      |  .cols { display: flex; gap: 2rem; align-items: flex-start; }
      |  .tree { width: 46vw; height: 420px; overflow: hidden;
      |          border: 1px solid #ddd; border-radius: 4px;
      |          cursor: grab; touch-action: none; }
      |  .tree.dragging { cursor: grabbing; }
      |  .tree svg { transform-origin: 0 0; }
      |  .tree ul { list-style: none; margin: 0; padding-left: 1.2rem;
      |             border-left: 1px solid #bbb; }
      |  .node { display: inline-block; border: 1px solid #888;
      |          border-radius: 4px; padding: 1px 7px; margin: 2px 0;
      |          background: #f3f6fa; }
      |  .op { font-weight: 600; }
      |  .cond { color: #555; font-size: 12px; }
      |  table { border-collapse: collapse; margin-top: 1rem; }
      |  td, th { border: 1px solid #ccc; padding: 2px 8px;
      |           font-size: 13px; }
      |  #err { color: #b00; white-space: pre-wrap; }
      |</style></head><body>
      |<h2>graft query service</h2>
      |<textarea id="sql">SELECT n_name, count(*) AS n FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n_name ORDER BY n DESC LIMIT 5</textarea><br>
      |<button onclick="run()">run</button> <span id="err"></span>
      |<div class="cols">
      |  <div><h3>original plan</h3><div id="orig" class="tree"></div></div>
      |  <div><h3>optimized plan</h3><div id="opt" class="tree"></div></div>
      |</div>
      |<div id="rows"></div>
      |<script>
      |// everything interpolated into markup is escaped: plan
      |// conditions quote user SQL and cells carry corpus data — a row
      |// containing '<img onerror=…>' must render as text, not execute
      |function esc(s) {
      |  return String(s).replace(/&/g, '&amp;').replace(/</g, '&lt;')
      |    .replace(/>/g, '&gt;').replace(/"/g, '&quot;');
      |}
      |// tidy-tree layout: each subtree claims max(own width, sum of
      |// child subtree widths); parents center over their children
      |function layout(n, depth) {
      |  const label = (n.OpType || '?') +
      |    (n.TabName ? ' ' + n.TabName : '');
      |  const cond = (n.Condition || '').slice(0, 42) +
      |    ((n.Condition || '').length > 42 ? '…' : '');
      |  const w = Math.max(label.length, cond.length) * 7 + 18;
      |  const kids = (n.Oprands || []).map(c => layout(c, depth + 1));
      |  const kw = kids.reduce((s, k) => s + k.tw, 0) +
      |    16 * Math.max(0, kids.length - 1);
      |  return { label, cond, w, kids, depth, tw: Math.max(w, kw),
      |    full: n.Condition || '' };
      |}
      |function place(t, x0) {
      |  t.cx = x0 + t.tw / 2;
      |  const kw = t.kids.reduce((s, k) => s + k.tw, 0) +
      |    16 * Math.max(0, t.kids.length - 1);
      |  let x = x0 + (t.tw - kw) / 2;
      |  for (const k of t.kids) { place(k, x); x += k.tw + 16; }
      |}
      |function graph(root) {
      |  const t = layout(root, 0);
      |  place(t, 10);
      |  const H = 64, nodes = [], edges = [];
      |  let maxd = 0;
      |  (function walk(p) {
      |    maxd = Math.max(maxd, p.depth);
      |    nodes.push(p);
      |    for (const k of p.kids) { edges.push([p, k]); walk(k); }
      |  })(t);
      |  const nodeY = p => 14 + p.depth * H;
      |  const nh = p => p.cond ? 40 : 26;
      |  const svg = [];
      |  svg.push('<svg xmlns="http://www.w3.org/2000/svg" width="' +
      |    (t.tw + 20) + '" height="' + ((maxd + 1) * H + 10) + '">');
      |  for (const [p, k] of edges)
      |    svg.push('<line x1="' + p.cx + '" y1="' + (nodeY(p) + nh(p)) +
      |      '" x2="' + k.cx + '" y2="' + nodeY(k) +
      |      '" stroke="#999"/>');
      |  for (const p of nodes) {
      |    const y = nodeY(p);
      |    svg.push('<g><title>' + esc(p.full) + '</title>' +
      |      '<rect x="' + (p.cx - p.w / 2) + '" y="' + y +
      |      '" width="' + p.w + '" height="' + nh(p) +
      |      '" rx="5" fill="#f3f6fa" stroke="#888"/>' +
      |      '<text x="' + p.cx + '" y="' + (y + 17) +
      |      '" text-anchor="middle" font-size="13" ' +
      |      'font-weight="600">' + esc(p.label) + '</text>' +
      |      (p.cond ? '<text x="' + p.cx + '" y="' + (y + 33) +
      |        '" text-anchor="middle" font-size="11" fill="#555">' +
      |        esc(p.cond) + '</text>' : '') + '</g>');
      |  }
      |  svg.push('</svg>');
      |  return svg.join('');
      |}
      |// drag-to-pan / wheel-to-zoom viewport over the plan SVG — the
      |// reference's JointJS canvas affordances, in plain JS: pan is a
      |// translate, zoom a scale anchored at the cursor so the point
      |// under the pointer stays put (the standard zoom-at-point math).
      |function panZoom(el) {
      |  const v = { x: 0, y: 0, s: 1 };
      |  const apply = () => {
      |    const svg = el.querySelector('svg');
      |    if (svg) svg.style.transform = 'translate(' + v.x + 'px,' +
      |      v.y + 'px) scale(' + v.s + ')';
      |  };
      |  el.addEventListener('wheel', e => {
      |    e.preventDefault();
      |    const r = el.getBoundingClientRect();
      |    const mx = e.clientX - r.left, my = e.clientY - r.top;
      |    const f = Math.exp(-e.deltaY * 0.0015);
      |    const s2 = Math.min(8, Math.max(0.1, v.s * f));
      |    v.x = mx - (mx - v.x) * (s2 / v.s);
      |    v.y = my - (my - v.y) * (s2 / v.s);
      |    v.s = s2; apply();
      |  }, { passive: false });
      |  let drag = null;
      |  el.addEventListener('pointerdown', e => {
      |    drag = { x: e.clientX - v.x, y: e.clientY - v.y };
      |    el.classList.add('dragging'); el.setPointerCapture(e.pointerId);
      |  });
      |  el.addEventListener('pointermove', e => {
      |    if (!drag) return;
      |    v.x = e.clientX - drag.x; v.y = e.clientY - drag.y; apply();
      |  });
      |  el.addEventListener('pointerup', () => {
      |    drag = null; el.classList.remove('dragging');
      |  });
      |  el.__reset = () => { v.x = 0; v.y = 0; v.s = 1; apply(); };
      |}
      |for (const id of ['orig', 'opt'])
      |  panZoom(document.getElementById(id));
      |async function run() {
      |  document.getElementById('err').textContent = '';
      |  const r = await fetch('/query', { method: 'POST',
      |    body: 'sql=' + encodeURIComponent(
      |      document.getElementById('sql').value) + '&limit=100' });
      |  const j = await r.json();
      |  if (j.error) {
      |    document.getElementById('err').textContent = j.error; return;
      |  }
      |  document.getElementById('orig').innerHTML = graph(j.originalPlan);
      |  document.getElementById('opt').innerHTML = graph(j.optimizedPlan);
      |  for (const id of ['orig', 'opt'])
      |    document.getElementById(id).__reset();
      |  const rows = j.rows; // toJSON objects arrive pre-parsed
      |  document.getElementById('rows').innerHTML =
      |    '<h3>rows (' + esc(j.rowCount) + ')</h3><table><tr>' +
      |    j.schema.map(c => '<th>' + esc(c) + '</th>').join('') +
      |    '</tr>' +
      |    rows.map(x => '<tr>' + j.schema.map(c =>
      |      '<td>' + (x[c] === undefined ? '' : esc(x[c])) + '</td>')
      |      .join('') + '</tr>').join('') + '</table>';
      |}
      |</script></body></html>""".stripMargin

  /** Standalone entry point: serve `sfDir` (arg 0, default sf0.001) on
    * port (arg 1, default 8042) until killed. */
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val port = if (args.length > 1) args(1).toInt else 8042
    val spark = Engine.session()
    val svc = new Service(new Engine(spark, sfDir), port)
    val bound = svc.start()
    println(s"graft service listening on http://localhost:$bound/")
  }
}
