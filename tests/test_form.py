"""Form serializer/submitter (`app/spider/common/form.go:25-180`):
serialization rules, Input/Inputs gating, GET/POST/POST-M submit
shapes — plus a live submit through httpfetch.fetch_one."""

from __future__ import annotations

from pholcus_spark.functions.form import parse_forms

PAGE = """<html><body>
<form id="login" action="/do/login" method="post">
  <input type="hidden" name="csrf" value="tok123">
  <input type="text" name="user" value="">
  <input type="password" name="pass" value="">
  <input name="no_type_attr" value="skipped">
  <textarea name="bio">default bio</textarea>
  <input type="submit" name="go" value="Sign in">
  <input type="submit" name="alt" value="Other">
</form>
<form action="/search" method="get">
  <input type="text" name="q" value="preset">
</form>
<form action="/upload" method="post" enctype="multipart/form-data">
  <input type="text" name="title" value="t">
</form>
<form method="post"><input type="text" name="x" value="1"></form>
</body></html>"""

URL = "http://site.test/account"


def test_serialization_rules():
    forms = parse_forms(PAGE, URL)
    assert len(forms) == 4
    login = forms[0]
    assert login.action == "http://site.test/do/login"
    assert login.method == "POST"
    # no-type inputs are excluded (form.go:157), textareas included,
    # submit inputs split into buttons
    assert login.fields == [
        ("csrf", "tok123"), ("user", ""), ("pass", ""), ("bio", "default bio"),
    ]
    assert login.buttons == [("go", "Sign in"), ("alt", "Other")]


def test_input_only_sets_existing_fields():
    login = parse_forms(PAGE, URL)[0]
    login.inputs({"user": "alice", "pass": "s3cret", "unknown": "ignored"})
    names = dict(login.fields)
    assert names["user"] == "alice" and names["pass"] == "s3cret"
    assert "unknown" not in names


def test_submit_shapes():
    forms = parse_forms(PAGE, URL)
    # POST: first button joins the payload
    req = forms[0].inputs({"user": "u", "pass": "p"}).submit()
    assert req["method"] == "POST" and req["url"] == "http://site.test/do/login"
    assert req["post_data"] == (
        "csrf=tok123&user=u&pass=p&bio=default+bio&go=Sign+in"
    )
    # named button click
    req2 = parse_forms(PAGE, URL)[0].submit(button="alt")
    assert req2["post_data"].endswith("alt=Other")
    # GET: querystring submit
    reqg = forms[1].input("q", "pholcus").submit()
    assert reqg == {
        "url": "http://site.test/search?q=pholcus", "method": "GET",
        "post_data": "",
    }
    # GET action that already carries a query: the payload REPLACES it
    # (form.go:116-124 sets URL.RawQuery — never "?x=1?q=a")
    page_q = '<form action="/s?x=1&y=2" method="get"><input type="text" name="q" value=""></form>'
    reqq = parse_forms(page_q, URL)[0].input("q", "a").submit()
    assert reqq["url"] == "http://site.test/s?q=a"
    # multipart enctype -> POST-M (form.go:122-130)
    requ = forms[2].submit()
    assert requ["method"] == "POST-M" and requ["post_data"] == "title=t"
    # action defaults to the page URL (form.go:173)
    assert forms[3].submit()["url"] == URL


def test_live_submit_roundtrip():
    """Submit a parsed form through httpfetch.fetch_one against a local
    server: the wire request matches the reference's send()."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from pholcus_spark.httpfetch import fetch_one

    class H(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers.get("Content-Length") or 0)
            body = self.rfile.read(n)
            self.send_response(200)
            self.send_header("Content-Type", "text/plain")
            self.end_headers()
            self.wfile.write(
                f"{self.path};{self.headers.get('Content-Type','')};".encode()
                + body
            )

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/account"
        page = PAGE.replace("http://site.test", "")
        login = parse_forms(page, base)[0]
        req = login.inputs({"user": "bob", "pass": "pw"}).submit()
        st, _ct, body = fetch_one(
            req["url"], req["method"], req["post_data"], timeout_s=10
        )
        assert st == 200
        assert body.startswith(b"/do/login;application/x-www-form-urlencoded;")
        assert b"user=bob" in body and b"go=Sign+in" in body
    finally:
        srv.shutdown()
