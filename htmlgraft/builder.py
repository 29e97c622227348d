"""Schema-directed tree builder.

Re-implements the reference tree builder (/root/reference/lib/treebuilder.js):
a stack of ``Frame`` contexts (open elements) with bitvector nesting state, a
flat "formatting" list of closed frames remembered for reopening (the
reference's simplified adoption-agency analogue, treebuilder.js:312-330), and
the escalate/extend ``_prepare`` loop (treebuilder.js:246-279) that implicitly
closes ancestors or inserts implied paths (<table> -> <tbody> -> <tr>) before
an insertion.

Deliberate reference quirks preserved:
* ``_close`` pushes *every* popped frame on the formatting list and pops one
  back off when the closed frame is itself a formatting element
  (treebuilder.js:283-307).
* ``reconstructFormatting`` reopens at most 3 frames per tag name, resets at
  formatting-context boundaries, compares names only (attrs are NOT compared,
  the reference's TODO at treebuilder.js:309-310) and reopens with EMPTY
  attrs.
* In ``_close``, when the sibling rule yields no update (the undefined
  ``beforeDoctype`` case) the popped tip is NOT pushed back
  (treebuilder.js:298-304) -- the stack genuinely loses an entry.
"""

from __future__ import annotations

from .grammar import C, NONE, child_rule, sibling_rule
from .nodes import Element

_C_FormattingElement = C["FormattingElement"]
_C_FormattingContextElement = C["FormattingContextElement"]


class Frame:
    __slots__ = (
        "name", "id", "kind", "children", "node", "rule",
        "namespace", "nestingContext", "closableAncestors", "fosterParent",
    )

    def __init__(self, node, rule):
        # treebuilder.js:29-44 (root frame; id -1 abused for the root)
        self.name = getattr(node, "name", None)
        self.id = -1
        self.kind = NONE
        self.children = NONE
        self.node = node
        self.rule = rule
        self.namespace = rule.namespace
        self.nestingContext = NONE
        self.closableAncestors = NONE
        self.fosterParent = None

    def apply_rule(self, rule, name=None, id=None, kind=None, node=None,
                   children=NONE):
        # treebuilder.js:46-56; called with no overrides for sibling updates,
        # in which case everything (incl. children) carries over from self.
        if name is None and node is None:
            name, id, kind, node = self.name, self.id, self.kind, self.node
            children = self.children
        frame = Frame.__new__(Frame)
        frame.name = name
        frame.id = id
        frame.kind = kind
        frame.node = node
        frame.children = children
        frame.rule = rule
        frame.namespace = rule.namespace or self.namespace
        frame.nestingContext = (self.nestingContext & ~rule.clearContext) | kind
        frame.closableAncestors = (self.closableAncestors & rule.closableAncestors) | kind
        frame.fosterParent = self.fosterParent
        return frame


class TreeBuilder:
    __slots__ = (
        "root", "tip", "stack", "formatting", "allOpened",
        "openMask", "openHandler",
    )

    def __init__(self, node, initial_rule):
        self.root = node
        self.tip = Frame(node, initial_rule)
        self.stack = [self.tip]
        self.formatting = []
        self.allOpened = NONE
        self.openMask = NONE
        self.openHandler = None

    @property
    def document(self):
        return self.root

    def on_open(self, mask, handler):
        self.openMask = mask
        self.openHandler = handler

    # --- querying (treebuilder.js:130-177) ---
    # The finders return a stack index, or None when nothing qualifies.

    def find_closable_ancestor(self, name, kind):
        stack = self.stack
        i = len(stack) - 1
        frame = stack[i]
        if frame.name == name:
            return i
        if frame.closableAncestors & kind:
            for i in range(i - 1, -1, -1):
                if stack[i].name == name:
                    return i
        return None

    def find_closable_ancestor_by_kind(self, kind):
        stack = self.stack
        i = len(stack) - 1
        frame = stack[i]
        if frame.kind == kind:
            return i
        if frame.closableAncestors & kind:
            for i in range(i - 1, -1, -1):
                if stack[i].kind & kind:
                    return i
        return None

    def _find_closable_ancestor_for(self, name, kind):
        # ancestors to close before an open tag (escalate); returns
        # (index, done): done when the frame at index takes the kind itself
        if kind & self.tip.rule.escalate:
            stack = self.stack
            for i in range(len(stack) - 2, -1, -1):
                frame = stack[i]
                if kind & frame.rule.content:
                    return i, True
                if kind & frame.rule.pathsFor:
                    return i, False
        return None

    def _find_path_towards(self, name, kind):
        # implied-path insertion (treebuilder.js:162-177)
        path = []
        tip = self.tip
        if kind & tip.rule.pathsFor:
            while tip is not None and tip.rule.pathsFor & kind:
                paths = tip.rule.paths
                name_ = paths.get(name) or paths.get("#default")
                cid, rule = child_rule(name_, None, tip)
                kind_ = 1 << cid
                node = Element(name_)
                tip = tip.apply_rule(rule, name_, cid, kind_, node)
                path.append(tip)
        if path:
            return path, (tip.rule.content & kind)
        return None, NONE

    # --- schema-directed open / append / close (treebuilder.js:181-240) ---

    def try_open(self, name, attrs, id, kind, rule):
        # the leading content test is _prepare's first-iteration fast path,
        # inlined here to skip the call in the common already-insertable case
        if kind & self.tip.rule.content or self._prepare(name, kind):
            node = Element(name, attrs)
            tip = self.tip
            tip_ = tip.apply_rule(rule, name, id, kind, node)
            parent = tip.fosterParent if kind & tip.rule.trap else tip.node
            index = len(parent.children)
            parent.children.append(tip_.node)
            tip.children |= kind
            self.stack.append(tip_)
            self.tip = tip_
            self.allOpened |= kind
            if self.openMask & kind:
                self.openHandler(name, id, tip_.node, parent, index)
            return True
        return False

    def try_append(self, item, kind):
        if kind & self.tip.rule.content or \
                self._prepare(getattr(item, "name", None), kind):
            tip = self.tip
            parent = tip.fosterParent if kind & tip.rule.trap else tip.node
            parent.children.append(item)
            tip.children |= kind
            self.allOpened |= kind
            if tip.rule.siblingRules:
                rule = sibling_rule(tip, getattr(item, "name", None), kind,
                                    self.allOpened)
                if rule is not None:
                    tip = tip.apply_rule(rule)
                    self.stack[-1] = tip
                    self.tip = tip
            return True
        return False

    def try_close(self, name, kind):
        index = self.find_closable_ancestor(name, kind)
        if index is None:
            return False
        self._close(index)
        return True

    def try_close_by_kind(self, kind):
        index = self.find_closable_ancestor_by_kind(kind)
        if index is None:
            return False
        self._close(index)
        return True

    # --- the escalate/extend loop (treebuilder.js:246-279) ---

    def _prepare(self, name, kind):
        for _ in range(3):
            if kind & self.tip.rule.content:
                return True

            found = self._find_closable_ancestor_for(name, kind)
            if found is not None:
                index, done = found
                self._close(index + 1)
                if done:
                    return True

            path, done = self._find_path_towards(name, kind)
            if path:
                stack = self.stack
                for tip_ in path:
                    tip = self.tip
                    parent = tip.fosterParent if kind & tip.rule.trap else tip.node
                    index = len(parent.children)
                    parent.children.append(tip_.node)
                    tip.children |= tip_.kind
                    stack.append(tip_)
                    self.tip = tip_
                    self.allOpened |= tip_.kind
                    if self.openMask & tip_.kind:
                        self.openHandler(tip_.name, tip_.id, tip_.node, parent, index)
                if done:
                    return True
        return False

    # --- tree mutation (treebuilder.js:283-307) ---

    def _close(self, index):
        # pops stack[index:]; the popped frames go on the formatting list
        # top first, as the reference pops them one by one
        stack = self.stack
        frame = stack[index]
        self.formatting.extend(reversed(stack[index:]))
        del stack[index:]
        if frame.kind & _C_FormattingElement:
            self.formatting.pop()
        tip = stack[-1]
        self.tip = tip

        if tip.rule.siblingRules:
            stack.pop()
            rule = sibling_rule(tip, frame.name, frame.id, self.allOpened)
            if rule is not None:
                tip = tip.apply_rule(rule)
                stack.append(tip)
                self.tip = tip
            # else: reference quirk -- the popped tip is NOT pushed back

    # --- formatting reconstruction (treebuilder.js:312-330) ---

    def reconstruct_formatting(self):
        counts = {}
        formatting_ = []
        for frame in self.formatting:
            if frame.kind & _C_FormattingElement:
                name = frame.name
                c = counts.get(name, 0) + 1
                counts[name] = c
                if c <= 3:
                    formatting_.insert(0, frame)
            elif frame.kind & _C_FormattingContextElement:
                counts = {}
                formatting_ = []
        for frame in formatting_:
            name = frame.name
            cid, rule = child_rule(name, None, self.tip)
            self.try_open(name, {}, cid, 1 << cid, rule)
        self.formatting = []
